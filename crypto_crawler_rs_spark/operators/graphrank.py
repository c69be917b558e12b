"""Link-graph PageRank — a COMPUTED host-rank source for the frontier.

The reference's crawl priority comes from a static rank table fetched
from an external API (crypto-crawler/src/utils/cmc_rank.rs:8-273 — the
CMC top-N list, refreshed hourly).  A web-scale crawler derives that
table from its own link graph instead: hosts that many other hosts
link to get crawled first (PageRank / OPIC-style frontier ordering).
This module is that derivation — a from-scratch DataFrame power
iteration, NOT a GraphX/GraphFrames dependency (neither ships in
pyspark) and NOT a driver-side loop over collected edges.

Spark shape (per iteration):

    ranks ⋈ weighted_edges on src   →  contribution per edge
        groupBy(dst).sum            →  incoming mass per node   (shuffle)
    nodes ⟕ contribs                →  (1-d)/N + d·(mass + dangling/N)

Scale notes:
- ``weighted_edges`` (src, dst, inv_deg) is computed ONCE, hash-
  partitioned by ``src`` and persisted: every iteration's ranks⋈edges
  join then shuffles only the ranks side (N nodes, tiny next to E
  edges).  The groupBy(dst) is the one real per-iteration shuffle and
  is inherent to the algorithm — partial aggregation (map-side
  combine) bounds it at nodes-per-partition.
- ranks is ``localCheckpoint``-ed each iteration: iterative plans
  otherwise grow lineage linearly and the optimizer re-derives the
  whole history every action (the classic iterative-Spark trap).
- The dangling-mass term is a single scalar aggregate per iteration
  (one row to the driver — bounded by definition, not a collect of
  data).
- Float determinism: intermediate math stays full-precision; only the
  FINAL rank is rounded (``round_digits``) so the DuckDB oracle's
  different summation order (ulp-level) cannot flip a comparison
  digit.  The driver compares floats at 9 significant digits.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    round_digits: int = 6,
    num_partitions: int | None = None,
    tol: float | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    Returns ``(node, rank, rank_pos)`` — ``rank`` rounded to
    ``round_digits`` decimals, ``rank_pos`` the 1-based position under
    ``ORDER BY rank DESC, node`` (deterministic tie-break), ready to
    feed :func:`ranks_to_policy` as the frontier's host_rank source.

    Multi-edges are collapsed (an edge either exists or not, the
    standard webgraph convention); self-loops are dropped.

    ``tol``: optional early stop — iteration ends when the L1 delta
    ``sum(|rank - prev_rank|)`` drops below it (one extra scalar
    aggregate per iteration, piggybacked on the checkpoint
    materialization).  Leave ``None`` for oracle-exact fixed
    iteration counts; set it in production where the refresh cadence
    matters more than a bit-pinned result.
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(num_partitions, "node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_nodes = nodes.count()  # scalar: materializes the persist too
    if n_nodes == 0:
        nodes.unpersist()
        # empty result keeps the CALLER's node type (ADVICE r4:
        # pinning it to string silently retyped bigint-noded graphs)
        from pyspark.sql import types as T

        node_type = e.schema["src"].dataType
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("node", node_type),
                    T.StructField("rank", T.DoubleType()),
                    T.StructField("rank_pos", T.LongType()),
                ]
            ),
        )

    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # per-edge weight precomputed once; hash-partition by src so each
    # iteration's ranks join co-locates without re-shuffling E edges
    wedges = (
        e.join(out_deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("inv_deg"))
        .repartition(num_partitions, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # lazy fill (r7): the first iteration's checkpoint job populates
    # the cache; an eager count() here was one extra E-row pass

    from ..functions.lifetimes import LocalCheckpointChain

    base = (1.0 - damping) / n_nodes
    # keep=2: the newest iterate plus its predecessor (the tol check
    # reads both); older iterates' checkpoint blocks are released as
    # the loop advances (ADVICE r4: they used to accumulate for up to
    # n_iter generations)
    chain = LocalCheckpointChain(keep=2)
    ranks = chain.step(
        nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    )

    dangling = nodes.join(
        out_deg.withColumnRenamed("src", "node"), "node", "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)

    for _ in range(n_iter):
        # total rank sitting on sink nodes, as a ONE-ROW broadcast
        # inside the same job (r7): collecting it to the driver first
        # cost a separate job per iteration — at small N the job
        # launch, not the data, is the iteration floor.  The arithmetic
        # is unchanged IEEE double ops (coalesce(sum,0.0) == the old
        # `or 0.0`; the /n_nodes division just moved from python float
        # to JVM double — same operation, same bits).
        dang_mass_df = (
            dangling.join(ranks, "node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang_mass"))
        )
        contribs = (
            wedges.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("inv_deg")).alias("mass"))
            .withColumnRenamed("dst", "node")
        )
        prev_ranks = ranks
        ranks = chain.step(  # cut the iteration lineage; release gen k-2
            nodes.join(contribs, "node", "left")
            .join(F.broadcast(dang_mass_df))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce("mass", F.lit(0.0))
                        + F.col("_dang_mass") / F.lit(n_nodes)
                    )
                ).alias("rank"),
            )
        )
        if tol is not None:
            # L1 convergence check against the previous (checkpointed)
            # iterate: a node-keyed join of two N-row tables + one
            # scalar to the driver
            delta = (
                ranks.join(
                    prev_ranks.withColumnRenamed("rank", "_prev"), "node"
                )
                .agg(F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("d"))
                .collect()[0]["d"]
            )
            if delta is not None and delta < tol:
                break

    out = ranks.select("node", F.round("rank", round_digits).alias("rank"))
    # rank_pos: global total order — N nodes is the SMALL table here
    # (hosts, not urls); a single-partition window over it is the same
    # size class as the frontier's policy broadcast.  For a node set
    # that itself needs distribution, feed `out` to operators.rank.
    w = Window.orderBy(F.col("rank").desc(), F.col("node"))
    out = out.withColumn("rank_pos", F.row_number().over(w).cast("long"))
    # `out` derives from the NEWEST iterate only — release the rest
    chain.close()
    for cached in (nodes, wedges, dangling):
        cached.unpersist()
    return out


def ranks_to_policy(
    ranks: DataFrame,
    node_col: str = "node",
    step: int = 10,
) -> DataFrame:
    """Convert PageRank output into the frontier's ``(host, host_rank)``
    policy columns: best-ranked host gets 0, next ``step``, … — the
    same shape as the reference's CMC rank table (rank 1 = hottest)
    so ``FrontierScheduler`` consumes it unchanged."""
    return ranks.select(
        F.col(node_col).alias("host"),
        ((F.col("rank_pos") - F.lit(1)) * F.lit(step)).cast("long").alias("host_rank"),
    )


def pagerank_oracle_sql(
    edges_sql: str,
    n_iter: int = 5,
    damping: float = 0.85,
    round_digits: int = 6,
) -> str:
    """Unrolled fixed-iteration ANSI-SQL twin of :func:`pagerank` for
    the DuckDB oracle: one CTE per iteration, identical dangling-mass
    and teleport terms.  ``edges_sql`` must yield (src, dst)."""
    d = damping
    pre = f"""
WITH edges AS (
  SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
wedges AS (
  SELECT e.src, e.dst, 1.0 / deg.deg AS inv_deg
  FROM edges e JOIN deg ON e.src = deg.src
),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    its = []
    for i in range(n_iter):
        prev, cur = f"r{i}", f"r{i + 1}"
        its.append(
            f""",
dang{i} AS (
  SELECT COALESCE(SUM(r.rank), 0.0) AS m FROM {prev} r
  LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL
),
{cur} AS (
  SELECT n.node,
         (1.0 - {d}) / (SELECT n FROM nn)
         + {d} * (COALESCE(c.mass, 0.0)
                  + (SELECT m FROM dang{i}) / (SELECT n FROM nn)) AS rank
  FROM nodes n
  LEFT JOIN (
    SELECT w.dst AS node, SUM(r.rank * w.inv_deg) AS mass
    FROM wedges w JOIN {prev} r ON w.src = r.node GROUP BY w.dst
  ) c ON n.node = c.node
)"""
        )
    final = f"""
SELECT node,
       ROUND(rank, {round_digits}) AS rank,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ROUND(rank, {round_digits}) DESC, node) AS BIGINT) AS rank_pos
FROM r{n_iter}"""
    return pre + "".join(its) + final


def host_edges(pages: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """Derive the (src, dst) HOST link graph from a pages table —
    the input :func:`pagerank` needs to compute a crawl-derived rank
    policy (the reference refreshes its rank table hourly from an
    external API, cmc_rank.rs:275-312; an open-web crawler derives it
    from its own crawl instead).

    Outlink extraction and canonicalization reuse the engine's Arrow
    UDFs (functions/text.outlinks_udf, functions/urls) so the graph
    agrees byte-for-byte with what discovery would schedule.  Output
    is pre-deduped at host granularity: the explode fans out to link
    cardinality, but the groupBy collapses to host-pair cardinality
    before anything else shuffles on it.
    """
    from ..functions.text import outlinks_udf
    from ..functions.urls import canonicalize_udf, host_col

    u = F.col(url_col)
    return (
        pages.select(
            host_col(canonicalize_udf(u)).alias("src"),
            F.explode(outlinks_udf(F.col(html_col))).alias("raw"),
        )
        .withColumn("dst", host_col(canonicalize_udf(F.col("raw"))))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .count()
        .drop("count")
    )


def refresh_host_rank(
    base_policy: DataFrame,
    ranks: DataFrame,
    step: int = 10,
) -> DataFrame:
    """Overlay crawl-computed PageRank onto an existing frontier
    policy table: hosts present in ``ranks`` get their ``host_rank``
    replaced by the computed position, static-only hosts keep their
    rank, and ranked hosts ABSENT from the static table still get a
    policy row (full-outer — discovered hosts are the common case on
    the open web; their other policy columns stay null and
    ``_with_policy`` coalesces them to engine defaults).  The same
    overlay contract as operators/politeness.ewma_policy.  Both
    sides are host-cardinality; the join stays small."""
    computed = ranks_to_policy(ranks, step=step).withColumnRenamed(
        "host_rank", "_computed_rank"
    )
    return (
        base_policy.join(computed, "host", "full")
        .withColumn(
            "host_rank", F.coalesce("_computed_rank", "host_rank")
        )
        .drop("_computed_rank")
    )
