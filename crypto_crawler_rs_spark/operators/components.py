"""Connected components over near-duplicate pairs — the transitive
closure the dedup family needs to act on its own output.

`minhash_lsh_pairs` / `simhash_pairs` / `ngram_jaccard_pairs` emit
PAIRS; removing duplicates needs the duplicate CLUSTERS (A~B and B~C
put A,B,C in one cluster even though A~C never scored) and one keeper
per cluster — the standard MinHash-LSH + connected-components recipe
from the dedup literature.  No GraphX/GraphFrames in pyspark, so this
is a from-scratch DataFrame implementation, mirroring graphrank.py's
iterative discipline (per-iteration localCheckpoint, scalar-only
driver traffic).

Algorithm: minimum-label propagation with POINTER JUMPING — every
node starts labeled with itself; each iteration every node takes the
min label over itself and its neighbors, then follows its label's own
label one hop (labels[x] <= x always, so the chain only descends).
The jump halves remaining chain depth per round, giving the
O(log diameter) convergence of large-star/small-star without the
two-phase bookkeeping; near-dup clusters are clique-dense anyway, so
most graphs converge in 2-3 rounds.

Scale shape per iteration: edges (pre-doubled to both directions,
hash-partitioned on src, persisted once) join the N-node label table
on src — labels shuffle, edges don't — then one combiner-backed
groupBy(node).min.  The convergence check is a one-row count.

Iteration discipline (r5): the E-row work (edges⋈labels + groupBy
min) materializes exactly ONCE per iteration — the min-label result
is the localCheckpoint point, and the pointer jump + convergence
check are N-row joins over that materialized table (previously the
jump self-joined an UNmaterialized plan, re-executing the E-row
aggregation twice per iteration, and convergence was a third join
against the prior iterate; the prior label now rides along as a
column).  Checkpoint blocks are released two generations behind via
LocalCheckpointChain (ADVICE r4: unbounded block accumulation).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.lifetimes import LocalCheckpointChain


def _union_find_min(pair_rows) -> dict:
    """Driver-side union-find with min-id roots over a bounded pair
    list (the local FINISHER's residual graph — see
    connected_components).  Path compression only; roots are kept as
    the minimum member id so the result is the same canonical
    min-label the distributed iteration converges to."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in pair_rows:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return {x: find(x) for x in list(parent)}


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    num_partitions: int | None = None,
    delta_broadcast_rows: int = 500_000,
    jumps_per_iter: int = 1,
    finish_candidate_rows: int = 16_000_000,
    finish_collect_rows: int = 500_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """Returns ``(node, component)`` — ``component`` is the minimum
    node id of the connected component (a canonical, deterministic
    cluster id).  Nodes are whatever orderable type the pair columns
    carry (doc ids, urls).  Isolated nodes don't appear in ``pairs``
    and therefore not in the output; callers union them back as
    their own keepers if needed.

    ``jumps_per_iter`` (r6, VERDICT r5 next-5): pointer-jump depth per
    materialized iteration, spent as mapping SQUARINGS — the
    iteration's mapping m is self-composed j times (m -> m^2 -> m^4
    -> ... -> m^(2^j)) before one application to the labels, so each
    N-row join DOUBLES the compression depth instead of adding one
    (classic pointer-doubling, but intra-job: the squarings are plan
    nodes over the persisted iteration table, not materialized
    rounds).  Since labels only descend and the mapping never leaves
    a component, any power of m converges to the identical fixpoint —
    the knob trades cheap intra-job joins for whole iterations, whose
    ~1-2s job floor dominates small/medium graphs.  Remaining chain
    depth shrinks ~2^j x per round.  With the local FINISHER below
    handling the chain tail, in-round depth matters far less than it
    used to, so the default is a single cheap squaring (j=1); deeper
    values only pay off on hub-heavy graphs where the finisher's
    degree-aware gate stays disengaged for many rounds (each extra
    squaring doubles the plan's cached-leaf scans, so j is a real
    cost, not free).
    Labels and (for it>0) the iteration's combined table are
    persisted so the squared plan's leaf scans (2^j of them) hit
    cache instead of re-running the edge join.

    LOCAL FINISHER (r6): once a round's changed set is small —
    ``n_changed * max_degree <= finish_candidate_rows`` bounds the
    residual candidate edges — the remaining merges are resolved in
    ONE job instead of k more iterations: collect (capped at
    ``finish_collect_rows`` via limit; overflow falls back to the
    loop) the residual graph and union-find it on the driver, then
    apply the fix as a single broadcast join.  The residual graph is
    exactly two bounded sets:

    * cross-component edges still disagreeing — every such edge has
      its SMALLER endpoint in the latest changed set (if a last
      changed in an earlier round, its neighbor was offered that
      label the following round and would have descended), so joining
      the persisted edges against the changed delta finds them all;
    * stale label chains from jump truncation — (y, m(y)) pairs where
      y is itself USED as a label and m(y) != y; every chain link's
      source is by construction a label value, so union-finding these
      makes one broadcast remap land every node on its final root.

    Same convergence point as iterating (min id per component; both
    pair sets stay within one true component), verified against the
    union-find oracle in tests.  At 10^9-node scale this turns the
    long tail (tiny deltas paying the full per-iteration job floor)
    into one bounded-collect job; hub-heavy graphs keep iterating
    until the degree-aware bound is actually met.  Set
    ``finish_candidate_rows=0`` to disable."""
    spark = pairs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    # undirected: double the edges once, partition by the JOIN key —
    # the iteration joins labels on "b", so hash-partitioning on "b"
    # is what lets every round shuffle only the N-row label table
    # while the E-row edge list stays put
    # ONE shuffle, not two: hash-partitioning on "b" co-locates every
    # duplicate of an (a,b) row, and HashPartitioning({b}) satisfies
    # the dedup aggregate's ClusteredDistribution({a,b}) — so the
    # dropDuplicates after the repartition is partition-local (no
    # second exchange), and the result stays partitioned on the join
    # key the iterations need
    edges = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(num_partitions, "b")
        .dropDuplicates()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # max degree bounds neighbor_min's row count (ADVICE r5): the
    # delta join's output has at most one row per distinct NEIGHBOR
    # of the changed set, i.e. <= n_changed * max_degree — NOT
    # <= n_changed.  One changed hub adjacent to most of the graph
    # makes neighbor_min ~N rows; broadcasting that is a driver OOM
    # at exactly the 10^9-node scale this operator targets.
    # (r7 second pass) no standalone aggregate job either: iteration
    # 0's delta is the FULL label set, so its edges⋈delta groupBy("a")
    # already sees every node's whole neighborhood — a count("*")
    # riding in that same aggregate IS the degree, and an Observation
    # on the iter-0 checkpoint surfaces max(_deg) without a separate
    # E-row pass.  The gates that need max_deg all run with
    # n_changed not None, i.e. strictly after iteration 0 resolved it.
    max_deg: int | None = None

    chain = LocalCheckpointChain(keep=2)
    labels = chain.step(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )

    # DELTA propagation (r5): labels only ever DECREASE, so a
    # neighbor's label can improve a node only if it changed since it
    # was last offered — after round 1 the edge join runs against the
    # CHANGED set only, which collapses to the chain tail once the
    # clique-dense clusters converge (round 2-3 for LSH output).  When
    # the changed set is small enough (n_changed) it is broadcast, so
    # the persisted edge list streams with NO shuffle and NO
    # per-iteration sort.
    #
    # ONE Spark job per iteration: the checkpoint of the jumped label
    # table ALSO carries the convergence count as an Observation
    # (metrics fire on the checkpoint's materialization job), so no
    # separate count job.  At small N the per-iteration floor is job
    # overhead, not data — halving the job count is the real lever.
    changed = labels
    n_changed: int | None = None  # unknown => first round is full
    for it in range(max_iter):
        delta_src = changed.select(
            F.col("node").alias("b"), F.col("component").alias("nbr")
        )
        if n_changed is not None and n_changed <= delta_broadcast_rows:
            delta_src = F.broadcast(delta_src)
        aggs = [F.min("nbr").alias("nbr_min")]
        if max_deg is None:
            aggs.append(F.count("*").alias("_deg"))
        neighbor_min = (
            edges.join(delta_src, "b")
            .groupBy("a")
            .agg(*aggs)
            .withColumnRenamed("a", "node")
        )
        if (
            n_changed is not None
            and n_changed * max_deg <= delta_broadcast_rows
        ):
            # neighbor_min rows ≤ distinct neighbors of the changed
            # set ≤ n_changed * max_degree; broadcasting it turns the
            # label update into a map-side pass over the checkpointed
            # label table (the bench runs AQE-off, so without this the
            # left join shuffles all N labels every round).  The
            # degree factor keeps the hint off for hub-heavy graphs
            # where "neighbors of the delta" can be ~N rows even when
            # the delta itself is tiny (ADVICE r5).
            neighbor_min = F.broadcast(neighbor_min)
        combined = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("component").alias("_old"),
            F.least("component", F.coalesce("nbr_min", "component")).alias(
                "component"
            ),
            *([F.col("_deg")] if max_deg is None else []),
        )
        iter_persist = None
        if it == 0:
            # round 0's delta is the FULL edge set — materialize it so
            # the jump joins below don't run the E-row pass repeatedly.
            deg_obs = None
            if max_deg is None:
                deg_obs = Observation()
                combined = combined.observe(
                    deg_obs, F.max("_deg").alias("maxdeg")
                )
            combined = chain.step(combined)
            if deg_obs is not None:
                # the checkpoint above already materialized the plan,
                # so this get() is a metric read, not a job
                max_deg = int(deg_obs.get["maxdeg"] or 1)
                combined = combined.select("node", "_old", "component")
        else:
            # later rounds' combined is a cheap delta plan, but the
            # multi-jump below references it jumps_per_iter + 1 times —
            # persist (lazy, no extra job: the first executing stage
            # caches partitions, later stages of the SAME job read the
            # cache) instead of re-running the delta join per reference
            iter_persist = combined.persist(StorageLevel.MEMORY_AND_DISK)
            combined = iter_persist
        # pointer DOUBLING: square this iteration's mapping m
        # jumps_per_iter times (m^2, m^4, ..., m^(2^j)), then apply it
        # once — every mapping value is itself a node of the same
        # component (min over self+neighbors), and labels[x] <= x, so
        # each squaring only descends and any power of m has the same
        # fixpoint.  Same number of N-row joins as applying m
        # repeatedly, exponentially more chain compression per
        # materialized round.
        mapping = combined.select(
            F.col("node").alias("component"),
            F.col("component").alias("_grand"),
        )
        for _ in range(max(0, jumps_per_iter)):
            parent = mapping.select(
                F.col("component").alias("_grand"),
                F.col("_grand").alias("_grand2"),
            )
            mapping = mapping.join(parent, "_grand", "left").select(
                "component",
                F.coalesce("_grand2", "_grand").alias("_grand"),
            )
        jumped_plan = combined.join(mapping, "component", "left").select(
            "node",
            "_old",
            F.coalesce("_grand", "component").alias("component"),
        )
        obs = Observation()
        jumped = chain.step(
            jumped_plan.observe(
                obs,
                F.sum(
                    (F.col("component") != F.col("_old")).cast("long")
                ).alias("n"),
            )
        )
        n_changed = int(obs.get["n"] or 0)
        if iter_persist is not None:
            iter_persist.unpersist()
        changed = jumped.where(F.col("component") != F.col("_old")).select(
            "node", "component"
        )
        labels = jumped.select("node", "component")
        if stats_out is not None:
            stats_out.setdefault("changed_per_iter", []).append(n_changed)
            stats_out["iterations"] = it + 1
        if not n_changed:
            break
        if 0 < n_changed * max_deg <= finish_candidate_rows:
            # residual candidate edges: every still-disagreeing edge
            # has its smaller endpoint in THIS round's changed set
            delta_b = changed.select(
                F.col("node").alias("b"), F.col("component").alias("comp_b")
            )
            if n_changed <= delta_broadcast_rows:
                delta_b = F.broadcast(delta_b)
            cross = (
                edges.join(delta_b, "b")
                .join(
                    labels.select(
                        F.col("node").alias("a"),
                        F.col("component").alias("comp_a"),
                    ),
                    "a",
                )
                .where(F.col("comp_a") != F.col("comp_b"))
                .select(
                    F.least("comp_a", "comp_b").alias("x"),
                    F.greatest("comp_a", "comp_b").alias("y"),
                )
            )
            # stale chains from jump truncation: labels whose node is
            # itself in use as a label but hasn't reached its fixpoint
            used = labels.select(F.col("component").alias("node")).distinct()
            stale = (
                labels.join(used, "node")
                .where(F.col("component") != F.col("node"))
                .select(
                    F.col("component").alias("x"), F.col("node").alias("y")
                )
            )
            residual = cross.union(stale).distinct()
            # the collect IS the overflow check: cap+1 rows means the
            # bound was optimistic — fall back to iterating (nothing
            # was mutated); otherwise this is the documented bounded
            # driver traffic (<= finish_collect_rows pairs)
            rows = residual.limit(finish_collect_rows + 1).collect()
            if len(rows) <= finish_collect_rows:
                mapping = _union_find_min((r[0], r[1]) for r in rows)
                if stats_out is not None:
                    stats_out["finisher_pairs"] = len(rows)
                    stats_out["finisher_engaged"] = True
                if mapping:
                    map_df = F.broadcast(
                        spark.createDataFrame(
                            list(mapping.items()),
                            labels.select(
                                F.col("component"),
                                F.col("component").alias("_root"),
                            ).schema,
                        )
                    )
                    labels = labels.join(map_df, "component", "left").select(
                        "node",
                        F.coalesce("_root", "component").alias("component"),
                    )
                break
    edges.unpersist()
    # the returned labels derive from the NEWEST checkpoint only —
    # release every older generation's blocks now
    chain.close()
    return labels


def dedup_keep_list(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Turn near-dup PAIRS into a dedup decision table:
    ``(node, keeper, is_keeper)`` — keeper = the component's minimum
    id (deterministic), ``is_keeper`` false means drop the document.
    Join this against the corpus with a broadcast-or-bucket semi/anti
    join to materialize the deduplicated table."""
    comp = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    return comp.select(
        "node",
        F.col("component").alias("keeper"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


def incremental_components(
    prior_labels: DataFrame,
    new_pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    **kw,
) -> DataFrame:
    """Fold a NEW batch of near-dup pairs into an EXISTING
    ``(node, component)`` labeling without re-clustering history —
    the recurring-crawl twin of :func:`connected_components`, closing
    the same loop ``dedup.incremental_dedup`` closes for exact
    digests (reference analog: the hourly re-discovery cadence,
    crypto-crawler/src/crawlers/utils.rs:543-555, where every round's
    output must reconcile against all prior rounds').

    Equivalence: a min-label assignment IS a contracted spanning
    forest — each prior component is represented by the single edge
    set {(node, component)}, which preserves exactly its membership
    and its minimum id.  Unioning those label edges with the new
    pairs and re-running min-label propagation therefore yields the
    labeling a full recompute over (all historical pairs ∪ new pairs)
    would — O(|prior nodes| + |new pairs|) input rows instead of
    O(|all pairs ever|), and the prior side enters as a 2-column
    table that never re-reads text or signatures.

    Keeper stability: labels only merge downward, so a node's
    component can CHANGE only when new pairs bridge two prior
    components (the new keeper is the min of the merged minima);
    untouched components keep their exact labels.  Returns the full
    updated ``(node, component)`` table — nodes seen only in
    ``prior_labels``, only in ``new_pairs``, or in both.

    ``**kw`` forwards to :func:`connected_components`
    (``max_iter``, ``finish_candidate_rows``, ...).
    """
    prior_edges = prior_labels.select(
        F.col("node").alias(src), F.col("component").alias(dst)
    )
    merged = prior_edges.unionByName(
        new_pairs.select(F.col(src), F.col(dst))
    )
    # self-loop rows (a prior singleton keeper labels itself) carry
    # membership for nodes with no other edge; connected_components
    # drops a==b rows, so re-add singletons afterwards via the
    # labeling's left side
    out = connected_components(merged, src=src, dst=dst, **kw)
    singletons = (
        prior_labels.where(F.col("node") == F.col("component"))
        .join(out.select("node"), "node", "left_anti")
        .select("node", "component")
    )
    return out.unionByName(singletons)
