"""FrontierScheduler — the batch-iterative crawl engine.

Spark restatement of the reference's flagship entry point
``crawl_trade`` (crypto-crawler/src/lib.rs:233-250 →
crypto-crawler/src/crawlers/utils.rs:701-826): the per-connection
tokio task graph becomes one DataFrame super-step per round
(SURVEY.md §3.1):

    frontier → broadcast policy join → robots filter → eligibility
    (backoff/crawl-delay) → salted per-host budget pop → scalable
    global rank → fetch join vs pages → extract_text (Arrow UDF) →
    host-state fold → seen append (+ sharded Bloom) → outlink
    discovery (bloom-prefiltered anti-join) → next frontier

Exactly two materially-sized shuffles per round: the per-host pop
window and the discovery anti-join, both keyed so AQE/salting keep
partitions bounded under host skew.  Policy and host-state are
broadcast-or-hash joins on ``host`` (bounded by the host count, the
reference's endpoint-coalescing insight, lock.rs:43-122).

Semantics are defined by plans/oracle.py — the engine must match it
exactly (ordering, seen-set, bytes).  Scale notes are inline; the
corpus is read from parquet here, an Iceberg catalog on a real
cluster (state.py docstring).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bloom import ShardedBloom, bloom_probe_udf
from ..functions.lifetimes import checkpoint, persist, scope
from ..functions.text import extract_text_udf, outlinks_udf
from ..functions.urls import canonicalize_udf, host_col
from ..operators.pop import pop_per_host
from ..operators.rank import global_rank
from .oracle import DEFAULT_BUDGET, DEFAULT_DELAY, MAX_BACKOFF, UNKNOWN_RANK
from .state import StateStore

FETCHED_COLS = [
    "round",
    "rank_in_round",
    "url",
    "host",
    "depth",
    "priority",
    "status",
    "text",
    "text_sha256",
]


@dataclass
class FrontierConfig:
    max_rounds: int = 64
    n_salts: int = 16
    n_seen_buckets: int = 32
    bloom_bits_per_shard: int = 1 << 20
    bloom_hashes: int = 5
    emit_deferred: bool = True  # log over_budget rows (FIXTURES.md §4)
    seed_validation: str = "quarantine"  # F2: quarantine | fail | ignore
    cache_pages: bool = True  # cache (url, html) projection (see __init__)
    # below this frontier size the deterministic global rank uses a
    # cheap single-partition window; above it, the scalable two-pass
    # range-partitioned rank (operators/rank.py)
    small_rank_threshold: int = 200_000
    # compact once the manifest lists this many seen roots; the
    # size-tiered compact_seen then merges only the newest roots and
    # keeps the large older snapshots under their paths
    compact_seen_every: int = 8
    # LSM-style seen layout (r5): per-round deltas below this size
    # write FLAT — no pre-repartition, no dynamic-partition writer,
    # two fewer stages in the per-round floor (measured +1.3s/round
    # for a 65k-row delta written bucketed).  The probe-inverted
    # reader streams small flat roots through every task's is_in at
    # negligible cost, and compaction folds them into bucketed
    # snapshots on its normal cadence.  Deltas larger than this (the
    # prior frontier size is the driver-known proxy) write bucketed
    # directly — at 10^7-row rounds a flat delta would be re-read
    # whole by every one of the 4096 tasks.
    seen_delta_flat_max_rows: int = 2_000_000
    # AQE re-plans each shuffle as a separate stage with a driver
    # barrier; the round loop's shuffles are fixed-key and pre-salted
    # (skew handled explicitly), so adaptive re-planning buys nothing
    # and its per-stage scheduling dominates small/medium rounds
    # (measured: 2.2x round throughput with it off at local[32]).
    # Re-enable on clusters where join skew is not pre-salted.
    adaptive: bool = False
    # T4 retry jitter (ws_client_internal.rs:216-252 adds random 1-9s
    # to 429 backoff).  The reference uses `rand`; determinism demands
    # a seeded equivalent: jitter = pmod(xxhash64(host, round), mod).
    # 0 disables (required for oracle-exact runs; the oracle models
    # no jitter).
    jitter_mod: int = 0
    # submit independent snapshot writes from concurrent driver
    # threads (fetched log / host_state / seen delta share only the
    # persisted fetch result) — overlaps per-round commit latency
    concurrent_writes: bool = True
    # above this frontier size the round's bloom update is built
    # executor-side (shard bitmaps ORed on the driver) instead of
    # collecting raw hashes — see functions/bloom.build_shard_bitmaps
    distributed_bloom_threshold: int = 1_000_000
    # discovery-probe strategy: 'broadcast' ships the whole filter to
    # every executor (fine to tens of MB), 'sharded' repartitions the
    # links by pmod(host_hash, n_shards) and each task mmap-loads only
    # its partition's shard bitmaps (the 10^10-URL path — a useful
    # filter there is ~10-15 GB, far beyond broadcast). 'auto' picks
    # by filter size.
    bloom_probe_mode: str = "auto"  # auto | broadcast | sharded
    bloom_broadcast_max_bytes: int = 64 << 20
    # counting-filter mode (the north-rule cuckoo-style fallback for
    # deletions): forget() then also DELETES from the filter, so
    # forgotten urls go back to the fast definitely-unseen path
    # instead of permanently degrading the prune rate.  Counting
    # shards are uint8 counts (8x the bits), so it's for
    # deletion-heavy crawls; correctness never depends on it either
    # way (the exact anti-join is the authority).
    bloom_counting: bool = False
    # expected total distinct URLs for the whole crawl: when set, the
    # filter is sized by the standard bloom formulas instead of the
    # fixed bits_per_shard (ShardedBloom.for_cardinality) — at 10^10
    # URLs / 1% fp that's ~12 GB of bits, which is exactly why the
    # sharded probe path exists
    bloom_expected_urls: int | None = None
    # record per-phase wall times into each round's manifest entry
    # ("timings") — for diagnosing the serial floor; no effect on
    # results
    profile_rounds: bool = False
    # exact seen-membership strategy for discovery:
    #   'auto'           (default) pick per ROUND by the manifest's
    #                    cumulative seen row count: 'shuffle' below
    #                    seen_auto_crossover_rows, 'bucket_pruned' at
    #                    or above it — the measured crossover is ~1M
    #                    rows (BENCH/BASELINE.md §2.5, flat ~0.7s
    #                    probe vs a shuffle that grows with the seen
    #                    set).  Deltas are ALWAYS written in the
    #                    bucketed layout under auto so the switch
    #                    never re-writes history (the bucket reader
    #                    also handles legacy flat roots).  This is
    #                    the bloom_probe_mode='auto' discipline for
    #                    the OTHER 10^10 knob: a default-config crawl
    #                    now engages the no-shuffle path the moment
    #                    its seen set earns it (VERDICT r5 next-1).
    #   'shuffle'        left_anti join — shuffles the WHOLE seen set
    #                    on url every round (fine until the seen set
    #                    dwarfs the cluster's shuffle capacity; on
    #                    Iceberg, bucketing both sides removes it)
    #   'bucket_pruned'  seen deltas stored partitionBy(bucket); each
    #                    task reads only its bucket's files and checks
    #                    membership in memory — NO seen-side shuffle,
    #                    the 10^10 path on plain parquet (size
    #                    n_seen_buckets so one bucket's urls fit a
    #                    task; operators/seenjoin.py)
    seen_anti_join: str = "auto"
    # 'auto' crossover: cumulative seen rows at/above which the
    # bucket-pruned membership path wins.  Measured locally at ~1M
    # (BENCH/BASELINE.md §2.5: shuffle 1.2s vs bucket 0.7s at 1M,
    # diverging to 6.1s vs 0.7s at 50M); the count used is the sum of
    # delta-file footer rows — an append-only UPPER bound on live
    # membership (tombstones not subtracted until compaction), which
    # errs toward the flat-cost path, the safe direction.
    seen_auto_crossover_rows: int = 1_000_000
    # crawler-trap suppression (operators/traps.py): when set, each
    # round counts confirmed-NEW discovered urls per (host,
    # digit-masked path template) into a cumulative template table
    # (template-cardinality — orders below the url count, broadcast-
    # sized); templates whose cumulative fanout reaches this value are
    # anti-joined out of discovery from then on.  The cumulative sum
    # is an UPPER bound on the template's distinct-url fanout (a url
    # discovered while still waiting in the frontier can re-count
    # until it is fetched into the seen set) — conservative in the
    # right direction for a suppression heuristic.  None disables
    # (default — the oracle models no traps).
    trap_min_urls: int | None = None
    # pages were pre-materialized canonical + deduped + url-bucketed
    # (materialize_canonical_pages): skip the per-session canonicalize
    # UDF pass, the recrawl dedup, AND the cache/repartition — the
    # bucketed table's own distribution makes the fetch join
    # one-sided.  This is the 100 TB configuration; the default
    # (False) canonicalizes + caches for ad-hoc corpora.
    pages_canonical: bool = False
    unknown_rank: int = UNKNOWN_RANK
    default_budget: int = DEFAULT_BUDGET
    default_delay: int = DEFAULT_DELAY
    max_backoff: int = MAX_BACKOFF


def parquet_row_count(paths: list[str] | str) -> int:
    """Total rows across parquet files under ``paths`` from FOOTER
    metadata only — no Spark job, no data read; the driver-side cost
    of the seen_anti_join='auto' decision.  On an Iceberg catalog the
    same number is one manifest-summary lookup
    (``snapshot.summary['total-records']``)."""
    import os

    import pyarrow.parquet as pq

    total = 0
    for p in [paths] if isinstance(paths, str) else paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    if f.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(root, f)
                        ).metadata.num_rows
        elif os.path.isfile(p) and p.endswith(".parquet"):
            total += pq.ParquetFile(p).metadata.num_rows
    return total


def stale_seen_urls(
    seen: DataFrame, current_round: int, ttl_rounds: int
) -> DataFrame:
    """The freshness-TTL selection (G10): distinct seen urls whose
    ``added_round`` is at least ``ttl_rounds`` rounds behind
    ``current_round`` — due for a re-fetch.  Factored out of
    :meth:`FrontierScheduler.recrawl_stale` so the selection rule has
    one definition for the engine path and the graded ``recrawl_due``
    oracle query."""
    return (
        seen.filter(
            F.col("added_round") <= F.lit(current_round - ttl_rounds)
        )
        .select("url")
        .distinct()
    )


def merge_recrawl_frontier(
    frontier: DataFrame, stale: DataFrame, depth: int = 0
) -> DataFrame:
    """Re-enqueue stale urls into the frontier at ``depth``: union
    with the live frontier, keep the MINIMUM depth per (url, host) —
    a url that is both pending and stale re-enters at its more urgent
    depth.  One definition for recrawl_stale and the graded query."""
    re_rows = stale.select(
        "url",
        host_col(F.col("url")).alias("host"),
        F.lit(depth).cast("int").alias("depth"),
    )
    return (
        frontier.select("url", "host", "depth")
        .unionByName(re_rows)
        .groupBy("url", "host")
        .agg(F.min("depth").cast("int").alias("depth"))
    )


def materialize_canonical_pages(
    pages: DataFrame,
    table: str,
    n_buckets: int = 32,
) -> DataFrame:
    """One-off 100 TB preparation job: canonicalize urls, collapse
    re-crawls to the latest capture, and save url-BUCKETED so every
    subsequent crawl session's fetch join is one-sided (scheduled
    side shuffles into the bucketing; the pages table never moves).

    Pair with ``FrontierConfig(pages_canonical=True,
    cache_pages=False)`` and ``spark.table(table)``.  On a cluster
    the same statement targets an Iceberg table with
    ``bucket(n, url)`` partitioning; locally it lands in the session
    warehouse (in-session catalog) which is enough to pin the plan
    shape in tests.
    """
    spark = pages.sparkSession
    # the table name reaches f-string SQL and a filesystem rmtree —
    # refuse anything that isn't a plain (optionally dotted)
    # identifier before either happens (ADVICE r4: a malformed value
    # could drop the wrong managed location)
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9_]+(\.[A-Za-z0-9_]+)*", table):
        raise ValueError(
            f"table must be a plain dotted identifier, got {table!r}"
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a crashed prior session can leave the managed location behind
    # with no catalog entry — saveAsTable then refuses
    # (LOCATION_ALREADY_EXISTS).  Local-filesystem warehouses only
    # (remote-scheme URIs are left to the real catalog, whose DROP
    # TABLE reclaims the location itself); managed layout is
    # <warehouse>/[<db>.db/]<table>.
    import os as _os
    import shutil as _shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if "://" not in wh or wh.startswith("file:"):
        wh = wh.removeprefix("file:")
        parts = table.lower().split(".")
        rel = (
            _os.path.join(f"{parts[-2]}.db", parts[-1])
            if len(parts) > 1
            else parts[-1]
        )
        stale = _os.path.join(wh, rel)
        # belt-and-braces with the identifier check above: never
        # rmtree anything that resolved outside the warehouse dir
        wh_real = _os.path.realpath(wh)
        if not _os.path.realpath(stale).startswith(wh_real + _os.sep):
            raise ValueError(
                f"resolved managed path {stale!r} escapes warehouse {wh!r}"
            )
        if _os.path.isdir(stale):
            _shutil.rmtree(stale)

    canon = pages.withColumn("url", canonicalize_udf(F.col("url")))
    if "warc_ts" in pages.columns:
        canon = canon.groupBy("url").agg(
            F.expr("max_by(html, struct(warc_ts, xxhash64(html)))").alias("html")
        )
    else:
        canon = canon.groupBy("url").agg(
            F.expr("max_by(html, xxhash64(html))").alias("html")
        )
    (
        canon.write.bucketBy(n_buckets, "url")
        .sortBy("url")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
    return pages.sparkSession.table(table)


class FrontierScheduler:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        host_policy: DataFrame,
        state_dir: str,
        config: FrontierConfig | None = None,
        store: StateStore | None = None,
    ):
        self.spark = spark
        self.cfg = config or FrontierConfig()
        # the engine talks ONLY to the StateStore contract (write /
        # read / read_union / round_dir / manifest commit) — inject a
        # different adapter (Iceberg catalog, alternate layout) and
        # the round loop is unchanged (tests/test_state_contract.py
        # proves it with a layout-divergent adapter)
        self.store = store or StateStore(spark, state_dir)
        # pages.url is canonicalized once up-front so the fetch join
        # key matches engine-canonical candidate urls.
        # scale: pages is the 100 TB table — this projection prunes to
        # (url, html) at scan time; bucketing pages by url would make
        # the fetch join shuffle-free on a cluster.
        if self.cfg.pages_canonical:
            # the 100 TB path: pages were materialized once via
            # materialize_canonical_pages (canonical urls, one row per
            # url, bucketed by url) — skip the per-session Arrow UDF
            # pass and recrawl dedup entirely, and DON'T repartition:
            # a url-bucketed table already exposes the join
            # distribution, so the fetch join shuffles only the
            # scheduled side (tests/test_bucketed_pages.py pins the
            # one-sided exchange)
            self.pages = pages.select("url", "html")
        else:
            self.pages = pages.withColumn("url", canonicalize_udf(F.col("url")))
            if "warc_ts" in pages.columns:
                # Common-Crawl corpora carry re-crawls of the same
                # url; a fetch join against duplicates would duplicate
                # scheduled rows (and ranks).  Keep the latest capture
                # per canonical url, ties broken on content hash for
                # determinism.
                self.pages = self.pages.groupBy("url").agg(
                    F.expr(
                        "max_by(html, struct(warc_ts, xxhash64(html)))"
                    ).alias("html")
                )
        if self.cfg.cache_pages and not self.cfg.pages_canonical:
            # cache the (url, html) fetch projection so the
            # canonicalize UDF runs once, not once per round-job, and
            # pre-partition it on the join key: InMemoryTableScan
            # preserves outputPartitioning, so every round's fetch
            # join shuffles ONLY the (small) scheduled side.
            # scale: at 100 TB you do NOT cache — pages should already
            # be stored canonical in url-bucketed Iceberg (a one-off
            # materialization); bucketing gives the same one-sided
            # shuffle on a cluster.
            n_buckets = int(
                spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
            self.pages = (
                self.pages.select("url", "html")
                .repartition(n_buckets, F.col("url"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        self.policy = host_policy

    # -- engine-scoped session conf -------------------------------------
    from contextlib import contextmanager as _ctx

    @_ctx
    def _engine_conf(self):
        """Apply the round-loop conf (AQE per FrontierConfig.adaptive)
        for the duration of an engine operation, then restore — the
        session is shared with ad-hoc queries that may want AQE."""
        key = "spark.sql.adaptive.enabled"
        prev = self.spark.conf.get(key)
        self.spark.conf.set(key, str(self.cfg.adaptive).lower())
        try:
            yield
        finally:
            self.spark.conf.set(key, prev)

    # -- bloom reuse across rounds ----------------------------------------
    def _load_bloom(self, path: str) -> "ShardedBloom":
        """In-memory bloom reuse (VERDICT r5 next-4, serial floor):
        the filter saved at the end of round N is byte-for-byte what
        round N+1 loads — re-decoding the multi-MB bitmap file every
        round is pure driver-side waste.  Cache keyed by the saved
        path; any other path (resume into a foreign state dir) misses
        and loads from disk.  Snapshots are write-immutable-then-
        commit and this engine instance is the path's only writer, so
        a path-keyed hit can never be stale."""
        cached = getattr(self, "_bloom_mem", None)
        if cached is not None and cached[0] == path:
            return cached[1]
        return ShardedBloom.load(path)

    def _cache_bloom(self, path: str, bloom) -> None:
        self._bloom_mem = (path, bloom)

    # -- candidate decoration -----------------------------------------
    def _with_policy(self, df: DataFrame) -> DataFrame:
        # ONE select, not six withColumns: every withColumn/unionByName
        # re-runs Catalyst analysis over the whole tree so far, and the
        # per-round profile showed plan CONSTRUCTION (not execution) as
        # the largest serial-floor term (VERDICT r5 next-4) — collapse
        # the chain so the joined tree is analyzed twice (columns +
        # select) instead of seven times
        cfg = self.cfg
        joined = df.join(F.broadcast(self.policy), "host", "left")
        defaults = {
            "host_rank": F.lit(cfg.unknown_rank),
            "budget_per_round": F.lit(cfg.default_budget),
            "robots_disallow": F.array().cast("array<string>"),
            "crawl_delay_rounds": F.lit(cfg.default_delay),
            "is_hot": F.lit(False),
        }
        cols = [
            F.coalesce(c, defaults[c]).alias(c) if c in defaults else F.col(c)
            for c in joined.columns
            if c != "priority"  # replaced below, like withColumn did
        ]
        host_rank = F.coalesce("host_rank", F.lit(cfg.unknown_rank))
        return joined.select(
            *cols, (F.col("depth") + host_rank).cast("long").alias("priority")
        )

    @staticmethod
    def _with_path(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "path", F.regexp_replace("url", r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]+", "")
        )

    def _empty_host_state(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], "host string, next_eligible int, backoff int"
        )

    def _seen_delta(self, df: DataFrame, rnd: int) -> DataFrame:
        cols = [
            F.col("url"),
            F.xxhash64("url").alias("url_hash"),
            F.hash("host").alias("host_hash"),
            F.lit(rnd).alias("added_round"),
        ]
        if self._seen_layout_bucketed:
            cols.append(
                F.pmod(F.hash("host"), F.lit(self.cfg.n_seen_buckets)).alias(
                    "bucket"
                )
            )
        return df.select(*cols)

    @property
    def _seen_layout_bucketed(self) -> bool:
        """WRITE layout: 'auto' always writes the bucketed layout so
        the read-path switch at the crossover never has to rewrite
        history (legacy flat roots from 'shuffle'-era runs stay
        readable either way — seenjoin's legacy_rows path)."""
        return self.cfg.seen_anti_join in ("bucket_pruned", "auto")

    @property
    def _seen_partition_by(self) -> str | None:
        return "bucket" if self._seen_layout_bucketed else None

    def _seen_mode(self, manifest: dict) -> str:
        """READ-path resolution for this round: 'shuffle' or
        'bucket_pruned'.  Under 'auto' the decision is the manifest's
        cumulative ``seen_rows`` (maintained per round from delta
        footer counts; derived once by a footer walk when resuming a
        pre-auto state dir) against ``seen_auto_crossover_rows``."""
        mode = self.cfg.seen_anti_join
        if mode not in ("auto", "shuffle", "bucket_pruned"):
            raise ValueError(
                f"seen_anti_join must be auto|shuffle|bucket_pruned, "
                f"got {mode!r}"
            )
        if mode != "auto":
            return mode
        return (
            "bucket_pruned"
            if self._seen_rows(manifest) >= self.cfg.seen_auto_crossover_rows
            else "shuffle"
        )

    @staticmethod
    def _seen_rows(manifest: dict) -> int:
        """The manifest's cumulative ``seen_rows``; a footer walk over
        every seen root only when the key is absent (a state dir
        written before the count was kept)."""
        n = manifest.get("seen_rows")
        if n is None:
            n = parquet_row_count(manifest.get("seen", []))
        return n

    # -- trap suppression ----------------------------------------------
    def _suppress_traps(
        self, discovered: DataFrame, prev_path: str | None, rnd: int
    ) -> tuple[DataFrame, str]:
        """Fold this round's discovered urls into the cumulative
        (host, digit-masked template) fanout table and anti-join out
        templates at/over ``cfg.trap_min_urls`` (operators/traps.py
        semantics inside the round loop).

        Scale: the counts table is template-cardinality — the groupBy
        shuffles template keys, not urls, and the flagged slice
        broadcasts.  The merged table is snapshotted per round like
        every other state table, so resume keeps trap memory."""
        from ..operators.traps import mask_pattern

        keyed = discovered.withColumn("pattern", mask_pattern("url"))
        counts = keyed.groupBy("host", "pattern").agg(
            F.count("*").alias("n_urls")
        )
        prev = self.store.read(prev_path) if prev_path else None
        if prev is not None:
            counts = (
                counts.unionByName(prev.select("host", "pattern", "n_urls"))
                .groupBy("host", "pattern")
                .agg(F.sum("n_urls").alias("n_urls"))
            )
        new_path = self.store.write(counts, rnd, "trap_counts")
        flagged = (
            self.store.read(new_path)
            .filter(F.col("n_urls") >= F.lit(self.cfg.trap_min_urls))
            .select("host", "pattern")
        )
        out = keyed.join(
            F.broadcast(flagged), ["host", "pattern"], "left_anti"
        ).drop("pattern")
        return out, new_path

    # -- init / resume --------------------------------------------------
    def init_state(self, seeds: DataFrame) -> dict:
        with self._engine_conf():
            return self._init_state(seeds)

    def _init_state(self, seeds: DataFrame) -> dict:
        """Round-0 state from a seed list (messy urls allowed).

        F2 validity check (the reference PANICS on unknown symbols,
        ``check_args`` crypto-crawler/src/crawlers/utils.rs:56-74):
        unparseable seeds are routed per ``cfg.seed_validation`` —
        'quarantine' (default) writes them to a quarantine table,
        'fail' raises, 'ignore' drops silently.
        """
        decorated = seeds.withColumn("_canon", canonicalize_udf(F.col("url")))
        invalid = decorated.filter(F.col("_canon").isNull()).select("url")
        qpath = None
        if self.cfg.seed_validation != "ignore":
            n_bad = invalid.count()
            if n_bad:
                if self.cfg.seed_validation == "fail":
                    bad = [r["url"] for r in invalid.limit(5).collect()]
                    raise ValueError(
                        f"{n_bad} unparseable seed urls (check_args), e.g. {bad}"
                    )
                qpath = self.store.write(invalid, 0, "quarantine")
        frontier = (
            decorated.filter(F.col("_canon").isNotNull())
            .select(F.col("_canon").alias("url"), "depth")
            .withColumn("host", host_col(F.col("url")))
            .groupBy("url", "host")
            .agg(F.min("depth").cast("int").alias("depth"))
        )
        # counted on the write, as _run_round counts next_frontier: with
        # the size known, round 0 takes the same size-gated branches as
        # every later round instead of the absent-size "assume big" ones
        from pyspark.sql import Observation

        obs = Observation()
        frontier = frontier.observe(obs, F.count(F.lit(1)).alias("n"))
        fpath = self.store.write(frontier, 0, "frontier")
        hpath = self.store.write(self._empty_host_state(), 0, "host_state")
        if self.cfg.bloom_expected_urls is not None:
            bloom = ShardedBloom.for_cardinality(
                self.cfg.bloom_expected_urls,
                n_shards=self.cfg.n_seen_buckets,
                counting=self.cfg.bloom_counting,
            )
        else:
            bloom = ShardedBloom(
                self.cfg.n_seen_buckets,
                self.cfg.bloom_bits_per_shard,
                self.cfg.bloom_hashes,
                counting=self.cfg.bloom_counting,
            )
        bpath = self.store.round_dir(0, "bloom")
        bloom.save(bpath)
        self._cache_bloom(bpath, bloom)
        manifest = {
            "round": 0,
            "frontier": fpath,
            "host_state": hpath,
            "bloom": bpath,
            "seen": [],
            "seen_rows": 0,
            "tombstones": [],
            "fetched": [],
            "metrics": [],
            "quarantine": qpath,
            "frontier_size": int(obs.get["n"]),
            # layout constant: the seen/tombstone delta dirs and the
            # bloom shards are keyed by pmod(host_hash, n) — resuming
            # with a different n would read the wrong bucket dirs and
            # silently re-crawl (guarded in run())
            "n_seen_buckets": self.cfg.n_seen_buckets,
        }
        self.store.commit(manifest)
        return manifest

    # -- seen-set maintenance -----------------------------------------
    @staticmethod
    def _apply_tombstones(seen: DataFrame, tombs: DataFrame) -> DataFrame:
        """Subtract tombstoned urls, ROUND-SCOPED: a tombstone written
        at round R only cancels seen rows with added_round <= R, so a
        later re-crawl's fresh seen entry survives (the url is seen
        again, not perpetually re-fetched)."""
        from pyspark.sql import functions as F

        t = tombs.groupBy("url").agg(F.max("tomb_round").alias("_tomb_round"))
        return (
            seen.join(F.broadcast(t), "url", "left")
            .filter(
                F.col("_tomb_round").isNull()
                | (F.col("added_round") > F.col("_tomb_round"))
            )
            .drop("_tomb_round")
        )

    def _read_seen(self, manifest: dict) -> DataFrame | None:
        """Current seen set = union of deltas minus tombstones (U3)."""
        # project to the layout-independent columns: deltas written
        # before/after a shuffle↔bucket_pruned switch differ only in
        # the extra ``bucket`` partition column
        seen = self.store.read_union(
            manifest["seen"], columns=["url", "url_hash", "host_hash", "added_round"]
        )
        tombs = self.store.read_union(
            manifest.get("tombstones", []), columns=["url", "tomb_round"]
        )
        if seen is not None and tombs is not None:
            seen = self._apply_tombstones(seen, tombs)
        return seen

    def compact_seen(
        self, seen_paths: list[str], tomb_paths: list[str], write_round: int
    ) -> tuple[list[str], list[str]]:
        """Size-tiered seen compaction (Iceberg rewrite-data-files
        analog): merge the newest roots into one snapshot in the
        current layout and keep the large older roots as they are —
        called by the round loop once the manifest lists
        ``compact_seen_every`` roots, and benched standalone
        (bench.py --compaction-only).  Returns ``(kept roots + [new
        snapshot], [])``, oldest first.

        Merge window: the newest root, back to the oldest root that
        holds no more rows than all newer roots together, and at
        least back to the oldest root not in the current write layout
        (a flat LSM delta under the bucketed layout).  Every kept root
        then outweighs all newer rows, so there are O(log n) roots and
        a row is rewritten O(log n) times: after its first compaction,
        each merge it takes part in at least doubles the root holding
        it.  A window of one root already in the current layout
        writes nothing.  Sizes are parquet footer counts — no Spark
        job.

        Full fold (every root into one snapshot, as a plain rewrite)
        when there are tombstones — they are round-scoped over every
        older root — or when a root is not a local directory with
        readable footers (catalog-table stores).

        Cost model: a read of the window's roots + one shuffle on
        pmod(host_hash, n_buckets) + one partitioned write.  The kept
        roots keep their paths, so the seen join's worker and IPC
        caches stay warm for them (operators/seenjoin._PATH_CACHE);
        merged roots are never requested again and LRU-evict."""
        import os

        from ..operators.seenjoin import has_bucket_dirs

        cfg = self.cfg
        start = 0
        if not tomb_paths and all(os.path.isdir(p) for p in seen_paths):
            bucketed = self._seen_layout_bucketed
            first_off = next(
                (i for i, p in enumerate(seen_paths) if has_bucket_dirs(p) != bucketed),
                len(seen_paths),
            )
            start = len(seen_paths) - 1
            newer = parquet_row_count(seen_paths[start])
            for i in range(start - 1, -1, -1):
                rows = parquet_row_count(seen_paths[i])
                if rows <= newer or i >= first_off:
                    start = i
                newer += rows
            if start == len(seen_paths) - 1 and first_off > start:
                return list(seen_paths), []
        # layout-independent projection (a resumed dir may mix flat
        # shuffle-era and bucket-partitioned deltas), then re-derive
        # the bucket column for the current layout
        compact = self.store.read_union(
            seen_paths[start:],
            columns=["url", "url_hash", "host_hash", "added_round"],
        )
        tombs = self.store.read_union(tomb_paths, columns=["url", "tomb_round"])
        if tombs is not None:
            compact = self._apply_tombstones(compact, tombs)
        if self._seen_partition_by:
            compact = compact.withColumn(
                "bucket",
                F.pmod(F.col("host_hash"), F.lit(cfg.n_seen_buckets)),
            )
        # each bucket hashes to one partition, so every bucket dir
        # gets one file whatever the task count; write tasks beyond the
        # cores only add per-task cost (local[4], 32 buckets: a 3k-row
        # window 1.3-2.0 s with 32 tasks vs 0.8-1.0 s with 4; 2M rows
        # 2.8-3.0 s vs 2.6-2.8 s)
        compact = compact.repartition(
            min(cfg.n_seen_buckets, self.spark.sparkContext.defaultParallelism),
            F.pmod(F.col("host_hash"), F.lit(cfg.n_seen_buckets)),
        )
        path = self.store.write(
            compact, write_round, "seen_compact",
            partition_by=self._seen_partition_by,
        )
        return seen_paths[:start] + [path], []  # tombstones folded in

    def forget(
        self,
        urls: DataFrame,
        manifest: dict | None = None,
        tomb_round: int | None = None,
    ) -> dict:
        """Remove URLs from the seen set so they can be re-crawled —
        the unsubscribe/retain path (U3,
        crypto-ws-client/src/common/ws_client_internal.rs:313-317).

        Implemented as tombstone deltas: the exact-join read path
        subtracts them (authoritative), while the non-counting Bloom
        may still answer maybe-seen — a pure false positive that the
        exact join clears, so correctness is unaffected (the cuckoo/
        counting-filter variant in functions/bloom.py reclaims the
        prune rate when deletions are frequent).

        ``tomb_round`` (default: the current round R) is the newest
        ``added_round`` the tombstone cancels.  Note the boundary: a
        re-crawl in round R writes ``added_round == R``, which a
        tomb_round of R would cancel too — callers that re-enqueue
        the forgotten urls IMMEDIATELY (recrawl_stale) pass R-1 so
        the re-add is visible; that is sound whenever every forgotten
        url was added strictly before R."""
        manifest = manifest or self.store.read_manifest()
        rnd = manifest["round"]  # write location stays in the live round dir
        if tomb_round is None:
            tomb_round = rnd
        tomb = (
            urls.withColumn("url", canonicalize_udf(F.col("url")))
            .filter(F.col("url").isNotNull())
            .select("url")
            .distinct()
            # round scoping: this tombstone only cancels seen rows
            # added at or before tomb_round — a post-forget re-crawl
            # re-enters the seen set normally
            .withColumn("tomb_round", F.lit(tomb_round).cast("int"))
        )
        if self._seen_partition_by:
            # bucket-partition tombstones like seen deltas so the
            # bucket_pruned anti-join applies them executor-side with
            # per-bucket file pruning (operators/seenjoin.py)
            tomb = tomb.withColumn(
                "bucket",
                F.pmod(
                    F.hash(host_col(F.col("url"))), F.lit(self.cfg.n_seen_buckets)
                ),
            )
        # unique name per forget() call: two forgets within one round
        # must not overwrite each other's delta (the manifest would
        # list the same path twice and the first batch would silently
        # stay "seen")
        tname = f"seen_tombstone_{len(manifest.get('tombstones', []))}"
        tpath = self.store.write(
            tomb, rnd, tname, partition_by=self._seen_partition_by
        )
        new_manifest = dict(manifest)
        new_manifest["tombstones"] = manifest.get("tombstones", []) + [tpath]
        if self.cfg.bloom_counting:
            # counting-filter delete (cuckoo-style): the forgotten
            # urls return to the fast definitely-unseen bloom path.
            # Only urls ACTUALLY in the seen set may decrement —
            # deleting a never-inserted key would corrupt shared
            # counters into false NEGATIVES, and bloom false negatives
            # (unlike false positives) bypass the exact anti-join.
            # Forget lists are operator-supplied and bounded, so a
            # driver-side collect of their hashes is fine.
            seen_now = self._read_seen(manifest)
            deletable = self.store.read(tpath).select("url")
            if seen_now is not None:
                deletable = deletable.join(
                    seen_now.select("url").distinct(), "url", "left_semi"
                )
            else:
                deletable = deletable.limit(0)
            hashes = (
                deletable
                .select(F.xxhash64("url").alias("u"), F.hash(host_col(F.col("url"))).alias("h"))
                .collect()
            )
            if hashes:
                import numpy as np

                bloom = ShardedBloom.load(manifest["bloom"])
                bloom.delete(
                    np.array([r["h"] for r in hashes], dtype=np.int64),
                    np.array([r["u"] for r in hashes], dtype=np.int64),
                )
                # unique path per forget call (mirrors the
                # seen_tombstone_{n} naming): a second forget in the
                # same round must not overwrite a filter an already
                # committed manifest points at — write-immutable-then-
                # commit is the whole crash-safety story, and a crash
                # mid-save over a referenced file would leave cleared
                # counting bits without the matching tombstone commit
                # (bloom false negatives → duplicate crawls).
                bpath = self.store.round_dir(
                    rnd, f"bloom_forget_{len(new_manifest['tombstones'])}"
                )
                bloom.save(bpath)
                self._cache_bloom(bpath, bloom)
                new_manifest["bloom"] = bpath
        self.store.commit(new_manifest)
        return new_manifest

    def recrawl_stale(
        self,
        ttl_rounds: int,
        manifest: dict | None = None,
        depth: int = 0,
    ) -> dict:
        """Freshness TTL pass (T8/T9 analog — the reference re-scans
        its symbol catalog hourly, crawlers/utils.rs:530-537; a web
        crawler re-fetches pages older than its freshness budget):
        forget every seen url whose ``added_round`` is at least
        ``ttl_rounds`` rounds old AND push it back into the frontier
        at ``depth``, so subsequent rounds re-fetch it under normal
        politeness/priority rules.

        Both steps follow write-immutable-then-commit: the tombstone
        delta via :meth:`forget`, the merged frontier under a
        unique per-call path; a crash between them leaves the prior
        manifest fully consistent."""
        manifest = manifest or self.store.read_manifest()
        rnd = manifest["round"]
        seen = self._read_seen(manifest)
        if seen is None:
            return manifest
        if ttl_rounds < 1:
            raise ValueError("ttl_rounds must be >= 1")
        # one seen-set scan, not three: the stale list is consumed by
        # the emptiness probe, the tombstone write AND the frontier
        # merge — checkpoint it so the full delta-union + tombstone
        # anti-join lineage executes once; the writes below are the
        # last readers, so the checkpoint is released after them
        with scope():
            stale = checkpoint(stale_seen_urls(seen, rnd, ttl_rounds))
            if stale.isEmpty():
                return manifest
            # tomb_round = rnd-1: every stale row was added at or before
            # rnd-ttl (<= rnd-1), so cancellation still covers it, while
            # the re-crawl this very round (added_round == rnd) stays
            # visible in the seen set (forget() docstring boundary note)
            manifest = self.forget(stale, manifest, tomb_round=rnd - 1)
            frontier = self.store.read(manifest["frontier"])
            merged = merge_recrawl_frontier(frontier, stale, depth=depth)
            # unique per call (mirrors seen_tombstone_{n}): a second
            # freshness pass in the same round must not overwrite a
            # frontier an earlier commit references
            fname = f"frontier_recrawl_{len(manifest.get('tombstones', []))}"
            fpath = self.store.write(merged, rnd, fname)
        new_manifest = dict(manifest)
        new_manifest["frontier"] = fpath
        # force run() to re-derive emptiness from the new frontier
        new_manifest.pop("frontier_size", None)
        self.store.commit(new_manifest)
        return new_manifest

    # -- one super-step ---------------------------------------------------
    def run_round(self, manifest: dict) -> dict:
        with self._engine_conf():
            return self._run_round(manifest)

    def _run_round(self, manifest: dict) -> dict:
        import time as _time

        _marks = [("start", _time.perf_counter())]

        def _mark(name: str) -> None:
            _marks.append((name, _time.perf_counter()))

        cfg = self.cfg
        rnd = manifest["round"]
        # one scope owns the round's persisted intermediates and
        # broadcasts and releases them once the round's writes are
        # done — a 64+-round crawl must not accumulate them on
        # executors (they would evict the pages cache)
        with scope():
            frontier = self.store.read(manifest["frontier"])
            host_state = self.store.read(manifest["host_state"])
            _mark("state_reads")
            bloom = self._load_bloom(manifest["bloom"])
            _mark("bloom_load")

            cand = persist(self._with_path(self._with_policy(frontier)))

            # robots: denied once, logged, marked seen, dropped
            denied_cond = F.exists(
                "robots_disallow", lambda p: F.col("path").startswith(p)
            )
            denied = cand.filter(denied_cond)
            allowed = cand.filter(~denied_cond)

            # eligibility: host backoff / crawl-delay watermark (T1/T4)
            allowed = allowed.join(host_state, "host", "left").withColumn(
                "_eligible", F.coalesce("next_eligible", F.lit(0)) <= F.lit(rnd)
            )
            waiting = allowed.filter(~F.col("_eligible"))
            eligible = allowed.filter(F.col("_eligible"))

            # per-host budgeted pop with hot-host salting (O1/T5)
            popped = persist(
                pop_per_host(
                    eligible.select(
                        "url", "host", "depth", "priority", "budget_per_round", "is_hot"
                    ),
                    n_salts=cfg.n_salts,
                )
            )
            deferred = popped.filter(~F.col("scheduled"))
            scheduled = popped.filter(F.col("scheduled"))

            # deterministic global pop order: (priority, url).  Small
            # rounds take a single-partition window (1 job); big rounds
            # take the scalable two-pass range-partitioned rank.  Both
            # produce the identical total order.
            _mark("plan_build_sched")
            sched_slim = scheduled.select("url", "host", "depth", "priority")
            if (
                manifest.get("frontier_size", cfg.small_rank_threshold)
                < cfg.small_rank_threshold
            ):
                from pyspark.sql import Window

                w = Window.orderBy("priority", "url")
                ranked = sched_slim.withColumn(
                    "rank_in_round", F.row_number().over(w).cast("long")
                )
            else:
                ranked = global_rank(
                    sched_slim,
                    ["priority", "url"],
                    out_col="rank_in_round",
                )
            # global_rank's range-partitioning prepass is an ACTION (a
            # per-partition-count job materializing everything up to the
            # pop) — cProfile showed it as ~2.6s of the 3.2s the r5
            # profile booked under "plan_build"; mark it separately so the
            # serial-floor table attributes executor work (which scales
            # with data) apart from driver planning (which doesn't).  On
            # the small-rank branch the window is lazy and this phase is
            # ~0 — marked unconditionally so every round's timings carry
            # the same keys.
            _mark("rank_prepass")

            # fetch join + byte-identical extract (S2/J7/C11).  Two selects
            # instead of three withColumns (each withColumn re-analyzes the
            # whole tree); text stays its own projection layer so the
            # pandas UDF is referenced once — inlining it into sha2 would
            # evaluate the extraction twice per row
            fetched = persist(
                ranked.join(
                    self.pages.select("url", "html"), "url", "left"
                )
                .select(
                    "*",
                    F.when(F.col("html").isNull(), "missing")
                    .otherwise("ok")
                    .alias("status"),
                    F.when(
                        F.col("html").isNotNull(), extract_text_udf(F.col("html"))
                    ).alias("text"),
                )
                .select("*", F.sha2(F.col("text"), 256).alias("text_sha256"))
            )

            log = fetched.select(
                F.lit(rnd).alias("round"),
                "rank_in_round",
                "url",
                "host",
                "depth",
                "priority",
                "status",
                "text",
                "text_sha256",
            )
            log = log.unionByName(
                denied.select(
                    F.lit(rnd).alias("round"),
                    F.lit(None).cast("long").alias("rank_in_round"),
                    "url",
                    "host",
                    "depth",
                    "priority",
                    F.lit("robots_denied").alias("status"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("text_sha256"),
                )
            )
            if cfg.emit_deferred:
                log = log.unionByName(
                    deferred.select(
                        F.lit(rnd).alias("round"),
                        F.lit(None).cast("long").alias("rank_in_round"),
                        "url",
                        "host",
                        "depth",
                        "priority",
                        F.lit("over_budget").alias("status"),
                        F.lit(None).cast("string").alias("text"),
                        F.lit(None).cast("string").alias("text_sha256"),
                    )
                )
            log = log.select(*FETCHED_COLS)

            # host-state fold (A3): success resets backoff, all-fail
            # doubles.  Column expressions composed in Python and emitted
            # as ONE select — the former four-withColumn chain re-analyzed
            # the full-outer-join tree four times per round (serial floor)
            stats = fetched.groupBy("host").agg(
                F.max(F.col("status") == "ok").alias("any_ok")
            )
            stats = stats.join(
                F.broadcast(self.policy.select("host", "crawl_delay_rounds")),
                "host",
                "left",
            ).select(
                "host",
                "any_ok",
                F.coalesce("crawl_delay_rounds", F.lit(cfg.default_delay)).alias(
                    "crawl_delay_rounds"
                ),
            )
            old_backoff = F.coalesce("backoff", F.lit(1))
            new_backoff = (
                F.when(F.col("any_ok").isNull(), old_backoff)
                .when(F.col("any_ok"), F.lit(1))
                .otherwise(F.least(old_backoff * 2, F.lit(cfg.max_backoff)))
            )
            jitter = (
                F.pmod(F.xxhash64(F.col("host"), F.lit(rnd)), F.lit(cfg.jitter_mod))
                if cfg.jitter_mod > 0
                else F.lit(0)
            ).cast("int")
            new_state = host_state.join(stats, "host", "full_outer").select(
                "host",
                F.when(F.col("any_ok").isNull(), F.coalesce("next_eligible", F.lit(0)))
                .when(F.col("any_ok"), F.lit(rnd) + F.col("crawl_delay_rounds"))
                .otherwise(F.lit(rnd) + new_backoff + jitter)
                .alias("next_eligible"),
                new_backoff.alias("backoff"),
            )
            # seen append: scheduled (ok+missing) + robots-denied (J1/U2)
            seen_delta = self._seen_delta(
                fetched.select("url", "host").unionByName(denied.select("url", "host")),
                rnd,
            )
            seen_partition = self._seen_partition_by
            # frontier_size is POPPED by recrawl_stale (it must force the
            # run loop to re-probe emptiness) — when absent, assume BIG
            # (ADVICE r5): a TTL recrawl can re-enqueue millions of stale
            # urls, and writing that delta flat hands every one of the
            # n_buckets bucket-pruned tasks the whole multi-million-row
            # root, the exact pathology seen_delta_flat_max_rows exists
            # to avoid.  A small recrawl written bucketed costs one tiny
            # shuffle — cheap in the wrong direction.
            if seen_partition and (
                manifest.get("frontier_size", cfg.seen_delta_flat_max_rows + 1)
                <= cfg.seen_delta_flat_max_rows
            ):
                # LSM layout: small delta -> flat file, compaction buckets
                seen_partition = None
            if seen_partition:
                seen_delta = seen_delta.repartition(
                    cfg.n_seen_buckets,
                    F.pmod(F.col("host_hash"), F.lit(cfg.n_seen_buckets)),
                )

            # everything up to here is LAZY plan construction plus the
            # round's state reads (manifest parquet opens, bloom load) —
            # marked separately so the profile splits pure driver/planning
            # time from execution (VERDICT r4 next-4: itemize the serial
            # floor)
            _mark("plan_build")
            # the three snapshot writes only share the persisted `fetched`
            # parent — submit them concurrently (Spark schedules jobs from
            # multiple driver threads; the persist is computed once, other
            # jobs block per-partition until cached).  This overlaps the
            # serial per-round commit term with itself, the main Amdahl
            # cost of small rounds.
            if cfg.concurrent_writes:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(3) as pool:
                    fa = pool.submit(self.store.write, log, rnd, "fetched")
                    fb = pool.submit(self.store.write, new_state, rnd + 1, "host_state")
                    fc = pool.submit(
                        self.store.write, seen_delta, rnd, "seen_delta",
                        None, seen_partition,
                    )
                    fetched_path = fa.result()
                    host_state_path = fb.result()
                    seen_path = fc.result()
            else:
                fetched_path = self.store.write(log, rnd, "fetched")
                host_state_path = self.store.write(new_state, rnd + 1, "host_state")
                seen_path = self.store.write(
                    seen_delta, rnd, "seen_delta", partition_by=seen_partition
                )
            seen_delta = self.store.read(seen_path)
            _mark("fetch_and_state_writes")

            # bloom maintenance: small deltas collect raw hashes (cheap,
            # one job); big deltas build shard bitmaps executor-side and
            # the driver ORs at most n_shards fixed-size arrays — collect
            # volume independent of row count (the 10^10-scale path).
            if (
                # absent frontier_size (popped by recrawl_stale) => assume
                # BIG, same reasoning as the delta-layout decision above:
                # the distributed path is bit-identical, while collecting
                # raw hashes of a multi-million-row recrawl delta is a
                # driver OOM
                manifest.get("frontier_size", cfg.distributed_bloom_threshold)
                >= cfg.distributed_bloom_threshold
                and not cfg.bloom_counting  # bitmap OR-merge is bits-only
            ):
                from ..functions.bloom import build_shard_bitmaps, merge_shard_bitmaps

                # shard bitmaps MUST match the live filter's dimensions —
                # when bloom_expected_urls sizes the filter via
                # for_cardinality, cfg.bloom_bits_per_shard/bloom_hashes
                # differ from bloom.bits_per_shard/n_hashes and an OR of
                # mismatched arrays would crash (or worse, silently set
                # wrong bits => bloom false negatives => re-crawls)
                rows = build_shard_bitmaps(
                    seen_delta.select("host_hash", "url_hash"),
                    bloom.n_shards,
                    bloom.bits_per_shard,
                    bloom.n_hashes,
                ).collect()
                merge_shard_bitmaps(bloom, rows)
            else:
                # small rounds: read the just-written delta parquet
                # directly with pyarrow — no Spark job, one less entry in
                # the per-round serial floor (cluster note: pyarrow reads
                # the same path via fsspec; the distributed branch above
                # is the real 10^10 path regardless)
                import os as _os

                if _os.path.isdir(seen_path):
                    import pyarrow.parquet as pq

                    delta_tbl = pq.read_table(
                        seen_path, columns=["host_hash", "url_hash"]
                    )
                    hh = delta_tbl["host_hash"].to_numpy()
                    uh = delta_tbl["url_hash"].to_numpy()
                else:
                    # non-filesystem store (e.g. Iceberg table idents):
                    # go through the adapter; still a small-round path
                    pdf = (
                        self.store.read(seen_path)
                        .select("host_hash", "url_hash")
                        .toPandas()
                    )
                    hh = pdf["host_hash"].to_numpy()
                    uh = pdf["url_hash"].to_numpy()
                bloom.add(hh, uh)
            bloom_path = self.store.round_dir(rnd + 1, "bloom")
            bloom.save(bloom_path)
            self._cache_bloom(bloom_path, bloom)
            _mark("bloom_update")

            # discovery (T8): outlinks of ok pages -> canonical -> unseen
            ok = fetched.filter(F.col("status") == "ok")
            links = (
                ok.select(
                    (F.col("depth") + 1).cast("int").alias("depth"),
                    F.explode(outlinks_udf(F.col("html"))).alias("raw_url"),
                )
                .select("depth", canonicalize_udf(F.col("raw_url")).alias("url"))
                .filter(F.col("url").isNotNull())
                .select("depth", "url", host_col(F.col("url")).alias("host"))
                .groupBy("url", "host")
                .agg(F.min("depth").alias("depth"))
                .select(
                    "*",
                    F.xxhash64("url").alias("url_hash"),
                    F.hash("host").alias("host_hash"),
                )
            )

            # bloom prefilter: probe==False is DEFINITELY unseen (skips the
            # exact join); probe==True goes to the exact anti-join which
            # kills false positives — correctness never depends on bloom.
            use_sharded = cfg.bloom_probe_mode == "sharded" or (
                cfg.bloom_probe_mode == "auto"
                and bloom._arr.nbytes > cfg.bloom_broadcast_max_bytes
            )
            if use_sharded:
                # partition-aligned probe: co-locate links with their seen
                # bucket, each task mmap-reads only its shards' bitmaps
                # from the just-saved snapshot (bit-identical to broadcast;
                # tests/test_scale_paths.py pins it)
                from ..functions.bloom import sharded_probe_col

                probe = sharded_probe_col(bloom_path, cfg.n_seen_buckets)
                links = links.repartition(
                    cfg.n_seen_buckets,
                    F.pmod(F.col("host_hash"), F.lit(cfg.n_seen_buckets)),
                )
            else:
                probe = bloom_probe_udf(self.spark, bloom)
            links = persist(
                links.withColumn(
                    "maybe_seen", probe(F.col("host_hash"), F.col("url_hash"))
                )
            )
            definitely_new = links.filter(~F.col("maybe_seen"))
            if self._seen_mode(manifest) == "bucket_pruned":
                # exact membership WITHOUT shuffling the seen set: tasks
                # read only their bucket's seen files (operators/seenjoin)
                from ..operators.seenjoin import filter_unseen_bucket_pruned

                # tombstones are bucket-partitioned deltas applied
                # executor-side per bucket — no driver-side dict shipped
                # in task closures (deletion-heavy crawls grow unbounded)
                confirmed_new = filter_unseen_bucket_pruned(
                    links.filter(F.col("maybe_seen")),
                    manifest["seen"] + [seen_path],
                    manifest.get("tombstones", []),
                    cfg.n_seen_buckets,
                    current_round=rnd,
                )
            else:
                # read here, not with the other state reads: each root's
                # read infers its schema in a Spark job, which the
                # bucket-pruned path above never needs
                seen = self._read_seen(manifest)
                # project BOTH sides to url before the union: under
                # 'auto' the just-written delta carries the bucketed
                # layout's extra column while _read_seen projects it away
                delta_urls = seen_delta.select("url")
                all_seen = (
                    delta_urls
                    if seen is None
                    else seen.select("url").unionByName(delta_urls)
                )
                confirmed_new = links.filter(F.col("maybe_seen")).join(
                    all_seen, "url", "left_anti"
                )
            discovered = definitely_new.select("url", "host", "depth").unionByName(
                confirmed_new.select("url", "host", "depth")
            )

            trap_path = manifest.get("trap_counts")
            if cfg.trap_min_urls is not None:
                discovered, trap_path = self._suppress_traps(
                    discovered, trap_path, rnd
                )

            # next frontier: waiting ∪ deferred ∪ discovered, min depth per url
            next_frontier = (
                waiting.select("url", "host", "depth")
                .unionByName(deferred.select("url", "host", "depth"))
                .unionByName(discovered)
                .groupBy("url", "host")
                .agg(F.min("depth").cast("int").alias("depth"))
            )
            # frontier size piggybacks on the write job as an observed
            # metric — previously a separate read-back count job, part of
            # the per-round serial floor
            from pyspark.sql import Observation

            obs = Observation()
            next_frontier = next_frontier.observe(obs, F.count(F.lit(1)).alias("n"))

            # metrics: per seen-bucket lineage counters (K3/A2) — one
            # unioned pass, single shuffle
            bucket = F.pmod(F.hash("host"), F.lit(cfg.n_seen_buckets)).alias("partition_id")
            zero = F.lit(0)
            m1 = cand.select(
                bucket,
                F.lit(1).alias("candidates"),
                zero.alias("scheduled"),
                zero.alias("fetched_ok"),
                zero.alias("errors"),
                zero.alias("bloom_pruned"),
                zero.alias("discovered_links"),
            )
            m2 = fetched.select(
                bucket,
                zero.alias("candidates"),
                F.lit(1).alias("scheduled"),
                F.when(F.col("status") == "ok", 1).otherwise(0).alias("fetched_ok"),
                F.when(F.col("status") == "missing", 1).otherwise(0).alias("errors"),
                zero.alias("bloom_pruned"),
                zero.alias("discovered_links"),
            )
            m3 = links.select(
                bucket,
                zero.alias("candidates"),
                zero.alias("scheduled"),
                zero.alias("fetched_ok"),
                zero.alias("errors"),
                F.when(~F.col("maybe_seen"), 1).otherwise(0).alias("bloom_pruned"),
                F.lit(1).alias("discovered_links"),
            )
            metrics = (
                m1.unionByName(m2)
                .unionByName(m3)
                .groupBy("partition_id")
                .agg(
                    *[
                        F.sum(c).alias(c)
                        for c in (
                            "candidates",
                            "scheduled",
                            "fetched_ok",
                            "errors",
                            "bloom_pruned",
                            "discovered_links",
                        )
                    ]
                )
                .withColumn("round", F.lit(rnd))
            )
            # frontier + metrics writes share only the persisted parents
            # (links/fetched/cand) — submit concurrently like the earlier
            # snapshot writes; the observation resolves with the frontier
            # write action
            if cfg.concurrent_writes:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(2) as pool:
                    ff = pool.submit(self.store.write, next_frontier, rnd + 1, "frontier")
                    fm = pool.submit(self.store.write, metrics, rnd, "metrics", partitions=1)
                    frontier_path = ff.result()
                    metrics_path = fm.result()
            else:
                frontier_path = self.store.write(next_frontier, rnd + 1, "frontier")
                metrics_path = self.store.write(metrics, rnd, "metrics", partitions=1)

            n_frontier = int(obs.get["n"])
            _mark("discovery_and_frontier_writes")

        # size-tiered seen compaction: keep the anti-join reading
        # O(log n) roots in the current layout (Iceberg rewrite-
        # data-files analog; compact_seen)
        seen_paths = manifest["seen"] + [seen_path]
        tomb_paths = manifest.get("tombstones", [])
        # cumulative seen row count (drives seen_anti_join='auto'):
        # footer-metadata reads only — no Spark job.  Append-only
        # upper bound between compactions; compaction folds tombstones
        # and the count resets to the kept roots' rows plus the new
        # snapshot's.
        seen_rows = self._seen_rows(manifest) + parquet_row_count(seen_path)
        if len(seen_paths) >= cfg.compact_seen_every:
            seen_paths, tomb_paths = self.compact_seen(seen_paths, tomb_paths, rnd + 1)
            seen_rows = parquet_row_count(seen_paths)

        new_manifest = {
            "round": rnd + 1,
            "frontier": frontier_path,
            "host_state": host_state_path,
            "bloom": bloom_path,
            "seen": seen_paths,
            "tombstones": tomb_paths,
            "fetched": manifest["fetched"] + [fetched_path],
            "metrics": manifest["metrics"] + [metrics_path],
            "frontier_size": n_frontier,
            "seen_rows": seen_rows,
            "quarantine": manifest.get("quarantine"),
            "n_seen_buckets": manifest.get(
                "n_seen_buckets", cfg.n_seen_buckets
            ),
        }
        if trap_path is not None:
            new_manifest["trap_counts"] = trap_path
        if cfg.profile_rounds:
            _mark("finalize")
            new_manifest["timings"] = {
                name: round(t - _marks[i][1], 3)
                for i, (name, t) in enumerate(_marks[1:])
            }
            # full history so a bench can attribute wall time per
            # phase across ALL rounds, not just the last one
            new_manifest["timings_history"] = manifest.get(
                "timings_history", []
            ) + [dict(new_manifest["timings"], round=rnd)]
            # the manifest can't carry its OWN commit time — record it
            # driver-side so the profile covers the full serial floor
            t0 = _time.perf_counter()
            self.store.commit(new_manifest)
            self.profile_commits = getattr(self, "profile_commits", [])
            self.profile_commits.append(
                {"round": rnd,
                 "manifest_commit": round(_time.perf_counter() - t0, 3)}
            )
        else:
            self.store.commit(new_manifest)
        return new_manifest

    # -- full crawl ------------------------------------------------------
    def run(self, seeds: DataFrame | None = None, max_rounds: int | None = None) -> dict:
        """Run (or resume) the crawl to completion.

        Resume semantics (T3 analog): if a manifest exists, we restart
        from its snapshot — any half-written round directories are
        unreferenced and invisible, so the interrupted round replays
        idempotently.
        """
        if max_rounds is None:
            max_rounds = self.cfg.max_rounds
        manifest = self.store.read_manifest()
        if manifest is None:
            if seeds is None:
                raise ValueError("no checkpoint to resume and no seeds given")
            manifest = self.init_state(seeds)
        else:
            stored = manifest.get("n_seen_buckets")
            if stored is not None and stored != self.cfg.n_seen_buckets:
                # the on-disk bucket layout is immutable — a silent
                # mismatch would read the wrong bucket=K dirs and
                # re-crawl seen urls
                raise ValueError(
                    f"state dir was written with n_seen_buckets={stored}; "
                    f"resuming with {self.cfg.n_seen_buckets} would mis-read "
                    "the bucketed seen/tombstone layout (re-bucket via seen "
                    "compaction with the old config first)"
                )
        while manifest["round"] < max_rounds:
            if manifest.get("frontier_size") == 0:
                break
            if "frontier_size" not in manifest:
                if self.store.read(manifest["frontier"]).isEmpty():
                    break
            manifest = self.run_round(manifest)
        return manifest

    # -- result readers ----------------------------------------------------
    def fetched(self, manifest: dict | None = None) -> DataFrame:
        manifest = manifest or self.store.read_manifest()
        df = self.store.read_union(manifest["fetched"])
        if df is None:
            df = self.spark.createDataFrame(
                [],
                "round int, rank_in_round long, url string, host string, "
                "depth int, priority long, status string, text string, "
                "text_sha256 string",
            )
        return df

    def seen(self, manifest: dict | None = None) -> DataFrame | None:
        manifest = manifest or self.store.read_manifest()
        return self._read_seen(manifest)

    def metrics(self, manifest: dict | None = None) -> DataFrame | None:
        manifest = manifest or self.store.read_manifest()
        return self.store.read_union(manifest["metrics"])
