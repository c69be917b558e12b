"""Document deduplication operators for training-data pipelines.

The reference's dedup is identity-level: an anti-join of discovered
symbols vs the subscribed set (crypto-crawler/src/crawlers/utils.rs:543-555).
A web-scale corpus additionally needs CONTENT-level dedup.  Each
operator scales by shuffling only on small keys (hashes / band
signatures), never on raw text.  Every operator has ONE execution
path.  Shingling and the memoized md5 MinHash/SimHash builds run
over Arrow batches in Python, one ``mapInPandas`` pass each: there
the JVM alternatives (higher-order functions interpreted per element,
or one md5 per token occurrence) lost every measured A/B, see
``shingle_rows``.  Joins, aggregates and per-row hashes stay
JVM-side.

Operators
---------
exact_dedup           hash-groupBy on md5(text)
shingle_rows          shared shingling primitive (Arrow pass)
ngram_jaccard_pairs   all-pairs n-gram Jaccard via shingle inverted
                      index (self-join on shingle hash)
minhash_lsh_pairs     MinHash signatures + banded LSH candidate
                      generation + exact-Jaccard verification —
                      the bloom-prefilter-then-exact-confirm pattern
                      again (SURVEY.md §2.4 J1)
simhash_fingerprints  n-bit SimHash per doc (md5: memoized Arrow
                      pass; xxhash64: JVM explode + signed bit sums)
simhash_pairs         near-dups = small hamming, banded equi-join
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.lifetimes import checkpoint, persist, scope

# Partition-local memo caps of the md5 Arrow builders: the memo is
# cleared when it reaches the cap, bounding executor memory at any
# vocabulary size.  Each builder reads its cap when it BUILDS the
# plan, so the value the closure ships to the workers is the one in
# force at build time.
_MINHASH_MEMO_CAP = 100_000
_SIMHASH_MEMO_CAP = 1_000_000


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: (text_md5, keeper_id, dup_count)."""
    return (
        df.withColumn("text_md5", F.md5(F.col(text_col)))
        .groupBy("text_md5")
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exploded distinct k-word shingle rows ``(_id, _n, _s)`` where
    ``_n`` is the doc's distinct-shingle count — the shared input of
    every shingle-based dedup operator.  Tokens are ``text.split(' ')``
    (empty tokens kept, NULL text = no tokens); docs with fewer than
    ``k`` tokens emit no row.

    One ``mapInPandas`` doing the split/join in Python over Arrow
    batches.  The pure-JVM alternative (``transform``/``slice``/
    ``concat_ws`` lambdas + explode) is interpreted per element, not
    codegen'd, and measured ~2.9x slower at sf0.1 — the exception to
    the usual stay-JVM rule (same finding as the LSH Arrow matmul,
    SNIPPETS r2).  That JVM build survives as the independent
    reference in ``test_shingle_impls_equivalent``."""
    # r7: the bench corpora are single-row-group parquet files, so the
    # python shingling pass would run as ONE task; spread first
    # (no-op at real scan widths — see functions/partitioning.py)
    from ..functions.partitioning import spread_small_scan

    df = spread_small_scan(df.select(id_col, text_col))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, ns, ss = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").split(" ")
                if len(toks) >= k:
                    sset = list(
                        dict.fromkeys(
                            " ".join(toks[i : i + k])
                            for i in range(len(toks) - (k - 1))
                        )
                    )
                else:
                    sset = []
                n = len(sset)
                ids.extend([did] * n)
                ns.extend([n] * n)
                ss.extend(sset)
            yield pd.DataFrame({"_id": ids, "_n": ns, "_s": ss})

    return df.mapInPandas(gen, schema="_id long, _n int, _s string")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """All doc pairs with Jaccard(shingle sets) >= threshold.

    Inverted-index self-join: explode shingles, join on the shingle
    (hashed to a long so the shuffle key is 8 bytes, not the string),
    count shared shingles per pair, then |A∪B| = |A|+|B|-shared.

    ``df_cap``: drop shingles whose DOCUMENT FREQUENCY exceeds the
    cap before the self-join (standard MinHash practice).  This is
    the skew guard: the join fanout of one shingle is df², so a
    stopword-like shingle present in 1% of a 10^9-doc corpus alone
    contributes 10^14 pairs — quadratic death on a single key.  A cap
    of c bounds per-key fanout at c² while only ignoring evidence
    from non-discriminative shingles (they connect everything, so
    they carry ~zero Jaccard signal).  NOTE the semantics change:
    shared/size counts then use the CAPPED shingle sets on both sides
    of the Jaccard — mirror the cap in any oracle.  ``df_cap=None``
    runs the same plan without the cap's keep-filter join.
    """
    # persist the exploded (id, shingle-hash) index: BOTH sides of the
    # self-join, the sizes aggregate (and the df-cap count) reuse it,
    # so the text scan + shingling runs once instead of 3-4x (it
    # dominates the query)
    ex = persist(
        shingle_rows(df, id_col, text_col, k).select(
            "_id", F.xxhash64("_s").alias("_sh")
        )
    )
    if df_cap is not None:
        keep = (
            ex.groupBy("_sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= df_cap)
            .select("_sh")
        )
        # r7: persist the CAPPED index — the self-join consumes it on
        # both sides and the sizes aggregate once more, and without a
        # cache each consumer re-runs the df-cap count+join (the
        # captured plan held FOUR copies of the keep aggregate)
        ex = persist(ex.join(keep, "_sh"))
    # sizes counted over the indexed shingles so the Jaccard
    # denominator matches the (capped) sets.  r7: sizes are attached
    # to the AGGREGATED pair counts (one row per doc pair) instead of
    # riding through the df² join fanout — n_a/n_b are functions of
    # id_a/id_b, so grouping on the ids alone yields identical groups
    # with half the aggregate key width, and the index keeps its _sh
    # partitioning into the self-join (no _id re-shuffle on the fat
    # path; guide §2.3/§2.4).
    sizes = ex.groupBy("_id").agg(F.count("*").alias("_n"))
    a = ex.select(F.col("_id").alias("id_a"), "_sh")
    b = ex.select(F.col("_id").alias("id_b"), "_sh")
    counts = (
        a.join(b, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        counts.join(
            sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _minhash_sig_rows_arrow(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_hashes: int,
) -> DataFrame:
    """``(_id, h0..h{n-1})`` md5-family MinHash signature table in ONE
    Arrow pass over ``(id, text)`` — bit-identical to the
    ``groupBy(_id).agg(min(md5('mh{i}#'||s)))`` build (same shingling
    as :func:`shingle_rows`, same UTF-8 md5 hex, and min over
    lowercase-hex ASCII strings is the same order under python str,
    JVM UTF8String and DuckDB collation), but ~an order of magnitude
    less hashing: a PARTITION-LOCAL memo computes the ``n_hashes``
    seeded digests once per distinct shingle seen by the task instead
    of once per (doc, shingle) occurrence.  Web-text shingle
    frequencies are Zipf — the repeated-shingle mass is exactly the
    part the JVM agg re-hashes per row and the memo pays once (at
    bench scale the corpus vocabulary makes the ratio ~10-100x; at
    web scale the stopword-like head still dominates occurrences).
    The memo is capped (cleared at ``_MINHASH_MEMO_CAP`` entries ≈ a
    few hundred MB) so executor memory is bounded at any scale; docs
    with fewer than ``k`` words emit no row, matching the groupBy over
    their zero shingle rows.  Requires unique ids (true for every caller: raw
    doc ids, exact-deduped keepers, digest-filtered batches).
    """
    from ..functions.partitioning import spread_small_scan

    src = spread_small_scan(docs.select(id_col, text_col))
    seeds = [f"mh{i}#".encode("utf-8") for i in range(n_hashes)]
    memo_cap = _MINHASH_MEMO_CAP

    def gen(batches):
        import hashlib

        import pandas as pd

        memo: dict = {}
        get = memo.get
        for pdf in batches:
            ids: list = []
            cols: list = [[] for _ in range(len(seeds))]
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").split(" ")
                if len(toks) < k:
                    continue
                sset = dict.fromkeys(
                    " ".join(toks[i : i + k]) for i in range(len(toks) - (k - 1))
                )
                hl = []
                ap = hl.append
                for s in sset:
                    hs = get(s)
                    if hs is None:
                        b = s.encode("utf-8")
                        hs = tuple(
                            hashlib.md5(sd + b).hexdigest() for sd in seeds
                        )
                        if len(memo) >= memo_cap:
                            memo.clear()
                        memo[s] = hs
                    ap(hs)
                ids.append(did)
                for col, v in zip(cols, (min(c) for c in zip(*hl))):
                    col.append(v)
            out = {"_id": pd.Series(ids, dtype="int64")}
            for i in range(len(seeds)):
                out[f"h{i}"] = pd.Series(cols[i], dtype="object")
            yield pd.DataFrame(out)

    schema = "_id long, " + ", ".join(f"h{i} string" for i in range(n_hashes))
    return src.mapInPandas(gen, schema=schema)


def _band_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_hashes: int,
    n_bands: int,
    hash_family: str,
) -> tuple[DataFrame, DataFrame]:
    """``(ex, banded)``: the docs' shingle table (``shingle_rows``
    output) and their ``(_id, _band, _sig)`` banded MinHash
    signatures — the shared build of :func:`minhash_lsh_pairs`,
    :func:`write_band_index` and :func:`incremental_lsh_pairs`, so the
    incremental path collides on bit-identical signatures.

    The family picks the signature builder, and the builder decides
    whether the shingle table is cached:

    * ``md5`` — :func:`_minhash_sig_rows_arrow`, one memoized Arrow
      pass over ``docs`` (bit-identical to the seeded-md5 min
      aggregation the oracle replays, ~10x less hashing; r7, guide
      §4).  It never reads ``ex``, so ``ex`` keeps the caller's single
      consumer and is NOT persisted.
    * ``xxhash64`` — a JVM ``min(xxhash64('mh{i}#' || s))`` aggregation
      over ``ex`` (no python twin of Spark's xxhash64 here; its 8-byte
      keys also hash ~10x faster than md5, so the agg is not the
      bottleneck).  ``ex`` then feeds the signatures AND the caller,
      so it is persisted."""
    ex = shingle_rows(docs, id_col, text_col, k)
    if hash_family == "md5":
        sig = _minhash_sig_rows_arrow(docs, id_col, text_col, k, n_hashes)
        band_hash = F.md5
    elif hash_family == "xxhash64":
        ex = persist(ex)
        sig = ex.groupBy("_id").agg(
            *[
                F.min(F.xxhash64(F.concat(F.lit(f"mh{i}#"), F.col("_s")))).alias(f"h{i}")
                for i in range(n_hashes)
            ]
        )
        band_hash = F.xxhash64
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    # ONE pass, not a union of n_bands branches (r7, guide §2.4): the
    # branch-per-band union re-ran the 32-min-agg final aggregation
    # once per band (the map side deduped via ReusedExchange, the
    # post-shuffle agg + n_hashes seeded hashes did not) — a
    # posexplode over the array of band signatures computes the
    # signature table once and emits identical (_id, _band, _sig)
    # rows (pos == the old F.lit(b) band id, same int type).
    rows_per_band = n_hashes // n_bands
    band_sigs = [
        band_hash(
            F.concat_ws(
                "|",
                *[
                    F.col(f"h{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        )
        for b in range(n_bands)
    ]
    banded = sig.select(
        "_id", F.posexplode(F.array(*band_sigs)).alias("_band", "_sig")
    )
    return ex, banded


def _confirm_pairs(
    cand: DataFrame,
    ex: DataFrame,
    threshold: float,
) -> DataFrame:
    """EXACT Jaccard confirmation of candidate pairs against the true
    shingle sets — the shared final stage of :func:`minhash_lsh_pairs`
    and :func:`incremental_lsh_pairs`.

    Set-based (r7, guide §2.3 shuffle-fewer-bytes): each doc's
    distinct shingles are collected into ONE array row
    (``(_id, _s)`` is distinct by :func:`shingle_rows`'s contract, so
    ``collect_set`` loses nothing), the candidate pair joins its two
    arrays by the 8-byte ids, and ``size(array_intersect(...))`` is
    the same integer the old exploded form counted with
    candidates⋈shingles⋈shingles + groupBy — that shape shuffled the
    Σ|shingles| × pairs exploded intermediate twice (~17 M rows at
    sf1.0 candidate counts) where this one shuffles one array row per
    doc plus the pair table (measured 2x on the confirm stage at
    sf1.0 shape; bit-identical jaccard: same ints, same division,
    same round).  Row width is bounded by the doc's shingle count —
    the same class as carrying ``text`` through a join, which every
    upstream stage already does."""
    # persist (r7): both attach joins aggregate the SAME sets table,
    # and each side lands in its own broadcast — no shared exchange,
    # so without the cache the collect_set aggregation runs twice.
    sets = persist(
        ex.groupBy("_id").agg(
            F.collect_set("_s").alias("_ss"), F.first("_n").alias("_n")
        )
    )
    return (
        cand.join(
            sets.select(
                F.col("_id").alias("id_a"),
                F.col("_ss").alias("_sa"),
                F.col("_n").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("_id").alias("id_b"),
                F.col("_ss").alias("_sb"),
                F.col("_n").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn("shared", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded LSH then EXACT Jaccard confirmation.

    Band collision is the cheap probabilistic prefilter (like the
    seen-set Bloom); the exact shingle-set Jaccard kills false
    positives, so the returned pairs are exact-threshold correct —
    LSH only bounds recall, never precision.

    ``hash_family='md5'`` makes the banding DuckDB-reproducible (the
    oracle replays the identical minhashes and band signatures), at
    the cost of string shuffle keys — use the default xxhash64 in
    production.

    ``bucket_cap``: drop band buckets holding more than cap docs —
    the degenerate-bucket guard for mass-duplicate corpora, where one
    bucket of b identical docs costs b² candidate pairs.  Those docs
    are exact duplicates (or near enough to collide on most bands);
    run :func:`exact_dedup` FIRST and feed only keeper docs here, and
    the cap never fires.  Mirror the cap in any oracle (recall-only
    effect, like the band count itself).
    """
    # shingle once; the table feeds the exact confirmation (and, on
    # the xxhash64 family, the signature build — _band_signatures
    # persists it then, ADVICE r3 #4)
    ex, banded = _band_signatures(
        df, id_col, text_col, k, n_hashes, n_bands, hash_family
    )
    # persist (r7): the self-join below consumes `banded` on BOTH
    # sides, and the planner broadcasts one of them — no exchange to
    # reuse, so without the cache the signature build (the arrow md5
    # pass / the 32-min aggregation) executes twice per query.  The
    # plan pin: exactly ONE MapInPandas sig pass under the candidate
    # join (plans/r07/dedup_minhash_lsh_after.txt).
    banded = persist(banded)
    if bucket_cap is not None:
        keep = (
            banded.groupBy("_band", "_sig")
            .agg(F.count("*").alias("_bc"))
            .filter(F.col("_bc") <= bucket_cap)
            .select("_band", "_sig")
        )
        banded = banded.join(keep, ["_band", "_sig"])
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["_band", "_sig"])
        .filter(F.col("x._id") < F.col("y._id"))
        .select(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
        .distinct()
    )
    # exact confirm: jaccard on true shingle sets of candidates only
    return _confirm_pairs(cand, ex, threshold)


def _simhash_fp_rows_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int,
) -> DataFrame:
    """md5-family SimHash fingerprints in ONE Arrow pass: bit ``b`` of
    a token is bit ``b`` of the first ``n_bits/4`` hex digits of
    md5(token) read as an integer, and the fingerprint sets bit ``b``
    where the signed sum over the doc's token OCCURRENCES is positive
    — exactly what the DuckDB oracle replays
    (``__spark_entry__._sql_simhash_fp_cte``).  Each DISTINCT token's
    ±1 bit vector is computed once per partition via a memo (capped
    at ``_SIMHASH_MEMO_CAP`` entries) instead of once per occurrence
    (token frequencies are Zipf — same argument as
    :func:`_minhash_sig_rows_arrow`).  NULL text emits no row; empty
    text tokenizes to [""] and gets a fingerprint, matching the
    oracle's ``unnest(string_split(text, ' '))``."""
    from ..functions.partitioning import spread_small_scan

    assert n_bits % 4 == 0 and n_bits <= 60  # sign-safe in BIGINT
    src = spread_small_scan(df.select(id_col, text_col))
    n_digits = n_bits // 4
    memo_cap = _SIMHASH_MEMO_CAP

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = list(range(n_bits))
        memo: dict = {}
        get = memo.get
        for pdf in batches:
            ids: list = []
            fps: list = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(text, str):
                    continue  # NULL text: explode(split(NULL)) emits no row
                toks = text.split(" ")
                sums = np.zeros(n_bits, dtype=np.int64)
                for t in toks:
                    vec = get(t)
                    if vec is None:
                        v = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:n_digits], 16)
                        vec = np.array(
                            [1 if (v >> b) & 1 else -1 for b in shifts],
                            dtype=np.int8,
                        )
                        if len(memo) >= memo_cap:
                            memo.clear()
                        memo[t] = vec
                    sums += vec
                fp = 0
                for b in shifts:
                    if sums[b] > 0:
                        fp |= 1 << b
                ids.append(did)
                fps.append(fp)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "simhash": pd.Series(fps, dtype="int64"),
                }
            )

    return src.mapInPandas(gen, schema=f"{id_col} long, simhash long")


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
    n_bits: int = 64,
) -> DataFrame:
    """n-bit SimHash per document: hash each space-split token, and
    for every bit position sum +1/-1 across tokens; the fingerprint
    re-assembles the sign bits.  Near-duplicates are pairs with small
    hamming distance (``bit_count(x ^ y)``) — see :func:`simhash_pairs`.

    ``hash_family='md5'`` derives the token bits from the md5 hex
    digits (bit b lives in digit ``n_bits//4 - b//4``), so a DuckDB
    oracle reproduces the fingerprints exactly; with md5 use
    ``n_bits<=60`` so the fingerprint stays positive in a signed
    BIGINT on both engines.  It is built by the memoized Arrow pass
    :func:`_simhash_fp_rows_arrow` (each distinct token hashed once
    per partition instead of once per occurrence — r7, guide §4).

    ``xxhash64`` uses the native 64 bits and stays JVM-side (explode
    tokens -> xxhash64 -> n_bits signed bit sums): native 8-byte
    hashing is not the bottleneck, and there is no python twin of
    Spark's xxhash64 here.
    """
    from ..functions.partitioning import spread_small_scan

    if hash_family == "md5":
        return _simhash_fp_rows_arrow(df, id_col, text_col, n_bits)
    if hash_family != "xxhash64":
        raise ValueError(f"unknown hash_family {hash_family!r}")
    assert n_bits <= 64
    # r7: the token explode + per-token hashing + n_bits partial sums
    # all run map-side — spread the single-split bench scan first
    tok = (
        spread_small_scan(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("_t"),
        )
        .select("_id", F.xxhash64("_t").alias("_h"))
    )
    aggs = [
        F.sum(
            F.when(
                F.col("_h").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b)) != 0, 1
            ).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(n_bits)
    ]
    sums = tok.groupBy("_id").agg(*aggs)
    fp = reduce(
        lambda acc, b: acc
        + F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long")),
        range(n_bits),
        F.lit(0).cast("long"),
    )
    return sums.select(F.col("_id").alias(id_col), fp.alias("simhash"))


def simhash_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    max_hamming: int = 3,
    n_bits: int = 64,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints WITHOUT an all-pairs
    join: band the fingerprint into ``n_bands`` contiguous bit slices
    and join on (band, slice value) — by pigeonhole, any pair with
    hamming <= n_bands - 1 collides on at least one untouched band,
    so with the default ``n_bands = max_hamming + 1`` the banded join
    is EXACT (100% recall); ``bit_count(x ^ y)`` confirms survivors.

    scale: shuffles only (band, 8-byte slice) keys; a degenerate
    corpus (mass-identical fingerprints) concentrates one bucket —
    the same df-cap treatment as ngram applies if that ever matters.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    width = n_bits // n_bands
    # the fingerprint build is a WIDE plan (n_bits aggregates + an
    # n_bits-term reassembly fold); the band union + self-join would
    # re-analyze that tree once per branch, so planning dominates the
    # query.  localCheckpoint materializes the (id, fp) pairs (two
    # 8-byte columns) and truncates the lineage — downstream plans see
    # a leaf.
    fpx = checkpoint(
        fp.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp"))
    )
    bands = []
    for b in range(n_bands):
        lo = b * width
        w = width if b < n_bands - 1 else n_bits - lo  # last band takes remainder
        slice_val = F.shiftright(F.shiftleft(F.col("_fp"), 64 - lo - w), 64 - w)
        bands.append(
            fpx.select(
                "_id", "_fp", F.lit(b).alias("_band"), slice_val.alias("_slice")
            )
        )
    banded = reduce(lambda x, y: x.unionByName(y), bands)
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["_band", "_slice"])
        .filter(F.col("x._id") < F.col("y._id"))
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.bit_count(F.col("x._fp").bitwiseXOR(F.col("y._fp"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def write_digest_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist a bucket-partitioned content-digest index — the
    document analog of the crawl's seen-set deltas (plans/state.py):
    ``bucket = pmod(hash(md5(text)), n_buckets)`` hive dirs, so an
    incremental dedup pass can prune to one bucket's files per task."""
    (
        docs.select(
            F.col(id_col).alias("keeper_id"),
            F.md5(F.col(text_col)).alias("digest"),
        )
        .withColumn("bucket", F.pmod(F.hash("digest"), F.lit(n_buckets)))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def compact_digest_index(
    spark,
    index_paths: list[str],
    out_path: str,
    n_buckets: int = 32,
) -> str:
    """Fold many digest-index deltas into ONE bucketed index — the
    content-dedup analog of FrontierScheduler.compact_seen (and of
    Iceberg rewrite-data-files): incremental ingest appends a delta
    index per batch (:func:`write_digest_index`), and the per-task
    probe cost of :func:`filter_new_digests` grows with the delta
    count until a periodic compaction folds them.

    Overlapping digests keep the LOWEST keeper_id, so the fold is
    order-independent: the same keeper wins no matter how the deltas
    are grouped or which batch indexed the content first (min is
    associative) — pinned by ``test_digest_compaction``.  One read +
    one groupBy shuffle on the 16-byte digest + one partitioned
    write; linear in index size, bucket-parallel."""
    from functools import reduce as _reduce

    dfs = [
        spark.read.parquet(p).select("keeper_id", "digest") for p in index_paths
    ]
    merged = (
        _reduce(lambda a, b: a.unionByName(b), dfs)
        .groupBy("digest")
        .agg(F.min("keeper_id").alias("keeper_id"))
        .withColumn("bucket", F.pmod(F.hash("digest"), F.lit(n_buckets)))
        .repartition(n_buckets, "bucket")
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(out_path)
    return out_path


def filter_new_digests(
    docs: DataFrame,
    index_paths: list[str],
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """INCREMENTAL exact dedup: rows of ``docs`` whose text digest is
    NOT in the persistent digest index — new content only, without
    re-shuffling the ever-growing index each batch.

    Same design as the crawl's bucket-pruned seen check
    (operators/seenjoin.py): docs repartition by the index's bucket
    key, each task reads ONLY its buckets' ``bucket=K/`` dirs and
    probes a cached pd.Index (vectorized, hash table built once per
    bucket).  At 10^10 indexed documents the plain ``left_anti``
    re-shuffles the whole index every incremental batch; this path
    stays O(batch + touched-bucket files).

    Returns (id, text_md5) of the unseen rows."""
    keyed = docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_md5")
    ).withColumn("_bucket", F.pmod(F.hash("text_md5"), F.lit(n_buckets)))
    part = keyed.repartition(n_buckets, F.col("_bucket"))
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in docs.schema.fields
    )[id_col]
    out_schema = f"{id_col} {id_type}, text_md5 string"

    def run(batches):
        import os

        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        cache: dict[int, "pd.Index"] = {}

        def load(bucket: int) -> "pd.Index":
            frames = []
            for p in index_paths:
                d = os.path.join(p, f"bucket={bucket}")
                if os.path.isdir(d):
                    frames.append(
                        pq.read_table(d, columns=["digest"]).to_pandas()
                    )
            if not frames:
                return pd.Index([], dtype=object)
            t = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
            return pd.Index(pd.unique(t["digest"].to_numpy()))

        for pdf in batches:
            if not len(pdf):
                continue
            buckets = pdf["_bucket"].to_numpy()
            digests = pdf["text_md5"].to_numpy()
            mask = np.empty(len(pdf), dtype=bool)
            for b in np.unique(buckets):
                sel = buckets == b
                idx = cache.get(int(b))
                if idx is None:
                    idx = cache[int(b)] = load(int(b))
                if len(idx) == 0:
                    mask[sel] = True
                else:
                    mask[sel] = idx.get_indexer(digests[sel]) == -1
            yield pdf.loc[mask, [id_col, "text_md5"]]

    return part.mapInPandas(run, schema=out_schema)


def write_band_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 16,
    hash_family: str = "xxhash64",
    n_buckets: int = 32,
) -> None:
    """Persist the FUZZY-dedup state for a document batch — the
    MinHash analog of :func:`write_digest_index`, and the third leg of
    the incremental family (digests → :func:`filter_new_digests`,
    clusters → ``components.incremental_components``, pairs → this +
    :func:`incremental_lsh_pairs`).

    Two hive-partitioned tables under ``path``:

    * ``bands/``: ``(_id, _band, _sig)`` partitioned by
      ``bucket = pmod(hash(_sig), n_buckets)`` — the collision join's
      key layout, so a later batch's probe prunes to matching bucket
      dirs (dynamic partition pruning against the small new side).
    * ``shingles/``: ``(_id, _n, _s)`` partitioned by
      ``bucket = pmod(hash(_id), n_buckets)`` — the exact-Jaccard
      confirm's retrieval layout, read candidate-pruned.

    Band signatures come from the SAME ``_band_signatures`` build as
    :func:`minhash_lsh_pairs`, so cross-batch collisions are
    bit-identical to a full-corpus run."""

    def _write(df: DataFrame, part_col: str, sub: str) -> None:
        (
            df.withColumn("bucket", F.pmod(F.hash(part_col), F.lit(n_buckets)))
            .repartition(n_buckets, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(path.rstrip("/") + "/" + sub)
        )

    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # eager: the writes are this operator's actions, so it owns what
    # the build persists
    with scope() as cached:
        ex, banded = _band_signatures(
            docs, id_col, text_col, k, n_hashes, n_bands, hash_family
        )
        jobs = (
            lambda: _write(banded, "_sig", "bands"),
            lambda: _write(ex, "_id", "shingles"),
        )
        if cached:
            # the signatures were aggregated from the cached shingle
            # table: write sequentially so the second job reads the
            # cache the first one filled
            for j in jobs:
                j()
            return
        # the two writes share no lineage (bands come from the Arrow
        # doc pass, shingles from ``ex``) — submit them from two driver
        # threads so the second job back-fills the first's tail (guide
        # §2.6); output files are identical either way.  Pass the
        # SESSION so job tags/local properties are inherited by the
        # worker threads (the bare-callable form warns and drops tags
        # on Spark 4)
        wrap = inheritable_thread_target(docs.sparkSession)
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(wrap(j)) for j in jobs]
            for f in futs:
                f.result()


def compact_band_index(
    spark,
    index_paths: list[str],
    out_path: str,
    n_buckets: int = 32,
) -> str:
    """Fold many band-index deltas into ONE — same maintenance cadence
    as :func:`compact_digest_index` (probe cost grows with the delta
    COUNT: each incremental batch lists/reads every delta's matching
    buckets until a compaction folds them).  Batches index disjoint
    documents (the :func:`filter_new_digests`-first flow guarantees
    it), so the fold is a pure re-bucketing union — one read + one
    partitioned write per table, no dedup shuffle."""
    base = out_path.rstrip("/")
    for sub in ("bands", "shingles"):
        dfs = [
            spark.read.parquet(p.rstrip("/") + "/" + sub) for p in index_paths
        ]
        merged = reduce(lambda a, b: a.unionByName(b), dfs)
        (
            merged.repartition(n_buckets, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(base + "/" + sub)
        )
    return out_path


def incremental_lsh_pairs(
    new_docs: DataFrame,
    index_paths: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 16,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
    n_buckets: int = 32,
    stats_out: dict | None = None,
) -> DataFrame:
    """INCREMENTAL MinHash-LSH: confirmed near-dup pairs TOUCHING the
    new batch — ``(id_a, id_b, jaccard)``, exactly the rows a
    full-corpus :func:`minhash_lsh_pairs` over (indexed ∪ new) emits
    with at least one new id — WITHOUT re-banding or re-joining
    history.  Candidate collisions are batch-independent (a pair
    collides on a band or it doesn't, whoever indexed first), so
    feeding these pairs to ``incremental_components`` keeps cluster
    keepers identical to a from-scratch run; old-old pairs were
    emitted by earlier batches.

    Scale shape (the reason this exists): per batch, the ever-growing
    index contributes (a) a bands-side equi-join pruned to the new
    batch's ``bucket=`` dirs by a STATIC partition filter — the
    batch's distinct bucket values (≤ ``n_buckets`` ints, one bounded
    collect, the seenjoin discipline: deterministic pruning instead
    of trusting the DPP heuristic, which declines here because the
    broadcast side carries no selective predicate) — so the probe is
    O(new bands + colliding buckets), not O(index); and (b) a
    shingles read pruned the same way to the CANDIDATE ids' buckets,
    then row-pruned by a broadcast semi-join on the candidate ids
    (bounded by the collision count, not the corpus).  Nothing
    re-shuffles history.  ``new_docs`` must be disjoint from indexed
    docs — run :func:`filter_new_digests` first, same contract as the
    digest index.  ``stats_out``: receives the probe/confirm scan plans
    (``bands_plan``/``shingles_plan``) so tests and plan audits can
    assert the partition filters engaged."""
    spark = new_docs.sparkSession
    ex_new, banded_new = _band_signatures(
        new_docs, id_col, text_col, k, n_hashes, n_bands, hash_family
    )
    banded_new = banded_new.withColumn(
        "bucket", F.pmod(F.hash("_sig"), F.lit(n_buckets))
    )
    # the new batch is the small side everywhere below; lineage-cut it
    # (band build = n_hashes aggregates re-analyzed per consumer) and
    # let the 2-col table broadcast.  The static pruning key (≤
    # n_buckets ints of driver traffic) rides the SAME materialization
    # as a collect_set Observation instead of a separate distinct+
    # collect job (r7 — the checkpoint already scans every row).
    bucket_obs = Observation()
    banded_new = checkpoint(
        banded_new.observe(bucket_obs, F.collect_set("bucket").alias("buckets"))
    )
    new_buckets = list(bucket_obs.get["buckets"])
    old_bands = reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(p.rstrip("/") + "/bands")
            for p in index_paths
        ],
    ).where(F.col("bucket").isin(new_buckets))
    cand_new_old = (
        old_bands.join(
            F.broadcast(banded_new.select("bucket", "_band", "_sig", F.col("_id").alias("_nid"))),
            ["bucket", "_band", "_sig"],
        )
        .select(
            F.least("_id", "_nid").alias("id_a"),
            F.greatest("_id", "_nid").alias("id_b"),
        )
    )
    if stats_out is not None:
        stats_out["bands_plan"] = (
            cand_new_old._jdf.queryExecution().executedPlan().toString()
        )
    cand_new_new = (
        banded_new.alias("x")
        .join(banded_new.alias("y"), ["_band", "_sig"])
        .filter(F.col("x._id") < F.col("y._id"))
        .select(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
    )
    # confirm = exact Jaccard over true shingle sets; the index side
    # is file-pruned to the candidate ids' buckets then row-pruned by
    # a broadcast semi-join (candidate count is collision-bounded).
    # Both sides' bucket sets (≤ n_buckets ints each) ride the cand
    # checkpoint as Observation metrics — two fewer driver-barrier
    # jobs than the old distinct-collect per table (r7).
    cand_obs = Observation()
    cand = checkpoint(
        cand_new_old.unionByName(cand_new_new)
        .distinct()
        .observe(
            cand_obs,
            F.collect_set(
                F.pmod(F.hash("id_a"), F.lit(n_buckets))
            ).alias("ba"),
            F.collect_set(
                F.pmod(F.hash("id_b"), F.lit(n_buckets))
            ).alias("bb"),
        )
    )
    cand_metrics = cand_obs.get
    cand_buckets = sorted(set(cand_metrics["ba"]) | set(cand_metrics["bb"]))
    # cand_ids now has a single consumer (the broadcast semi-join) and
    # derives from the checkpointed cand — no extra checkpoint needed
    cand_ids = (
        cand.select(F.col("id_a").alias("_id"))
        .unionByName(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    old_sh = (
        reduce(
            lambda a, b: a.unionByName(b),
            [
                spark.read.parquet(p.rstrip("/") + "/shingles")
                for p in index_paths
            ],
        )
        .where(F.col("bucket").isin(cand_buckets))
        .join(F.broadcast(cand_ids), "_id", "left_semi")
    )
    if stats_out is not None:
        stats_out["shingles_plan"] = (
            old_sh._jdf.queryExecution().executedPlan().toString()
        )
    # r7: prune the NEW side to candidate ids too — the confirm's
    # attach joins are inner on the pair ids, so docs in no candidate
    # pair never contribute, yet the whole batch's shingles were
    # feeding the collect_set aggregate (the old side was already
    # candidate-pruned).  cand_ids derives from the checkpointed cand,
    # so the extra consumer re-runs only a tiny distinct.  Measured
    # flat at bench shape (the aggregate was not the warm cost), kept
    # because it bounds the confirm by the collision count instead of
    # the batch size — the operator's own scale contract.
    ex_all = old_sh.select("_id", "_n", "_s").unionByName(
        ex_new.select("_id", "_n", "_s").join(
            F.broadcast(cand_ids), "_id", "left_semi"
        )
    )
    return _confirm_pairs(cand, ex_all, threshold)


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
) -> DataFrame:
    """CCNet-style chunk-level exact dedup: split every document into
    non-overlapping ``chunk_words``-word chunks, keep only the FIRST
    corpus-wide occurrence of each chunk (first = lowest
    ``(doc_id, chunk_idx)``, the CCNet paragraph-dedup convention),
    and reassemble each document from its surviving chunks.

    Returns one row per input doc:
    ``(doc_id, text_dedup, n_chunks, n_kept)`` — ``text_dedup`` is ''
    for a document whose every chunk first appeared elsewhere (the
    fully-boilerplate page that web dedup exists to drop).

    Spark shape: chunking is pure higher-order functions
    (sequence/transform/slice) over a token array materialized as a
    column FIRST — an inline ``split()`` referenced inside the lambda
    is re-evaluated per element (no common-subexpression elimination
    across lambda scopes), O(words²) per row;
    first-occurrence is a ``min_by`` AGGREGATE on ``md5(chunk)``
    (16-byte shuffle key, not the chunk text) joined back on the
    hash, NOT a row_number window: at web scale one universal
    boilerplate chunk (cookie banner, nav footer) puts 10^8 rows
    under a single window key, and a window's hot partition cannot be
    split — while the aggregate combines map-side to one row per
    chunk before the exchange, and AQE's skew-join splitting handles
    the join's probe side.  Reassembly is ONE groupBy(doc) with an
    order-struct collect.  Three hash-partitioned shuffles, every one
    combiner-friendly or skew-splittable — the CCNet sharded-hash
    layout re-expressed declaratively.

    Reference analog: the dedup responsibility of the reference's
    seen-set (crypto-crawler/src/crawlers/utils.rs:557-561) applied to
    page CONTENT instead of urls — sub-document granularity is what a
    training-data pipeline needs (boilerplate navigation/footer chunks
    repeat across most pages of a host).
    """
    from ..functions.partitioning import spread_small_scan

    w = chunk_words
    words_col = "_cd_words"
    # r7: chunking (sequence/transform/slice HOFs + md5 per chunk) is
    # map-side CPU — spread the single-split bench scan first
    out = spread_small_scan(df.select(id_col, text_col)).withColumn(
        words_col, F.split(F.col(text_col), " ")
    )
    words = F.col(words_col)
    n_chunks = F.ceil(F.size(words) / F.lit(float(w))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * w + 1, w)),
    )
    exploded = out.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    ).withColumn("_chash", F.md5("chunk"))
    firsts = exploded.groupBy("_chash").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("_first")
    )
    flagged = exploded.join(firsts, "_chash").withColumn(
        "kept",
        (
            (F.col(f"_first.{id_col}") == F.col(id_col))
            & (F.col("_first.chunk_idx") == F.col("chunk_idx"))
        ).cast("int"),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept") == 1,
                                F.struct("chunk_idx", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("text_dedup"),
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
    )
