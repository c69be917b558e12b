"""End-to-end training-corpus preparation — the composed pipeline a
user of this engine actually runs over crawled text.

The reference stops at emitting raw per-message TSV
(crypto-crawler/src/crawlers/utils.rs:557-580 — crawl output IS the
product); a 100 TB web-text corpus needs the downstream pass too.
This composes the engine's existing stages in the standard
CCNet/C4-style order:

    1. cheap stats      (lang-ID, quality ratios, token counts — one
       Arrow pass emits the integer counts, the ratios derive
       JVM-side from them)
    2. quality gate     (language allowlist, token-count band,
       stopword/distinct ratio floors — a pure Filter, pushed as far
       down as the expressions allow)
    3. document-level exact dedup (md5 keeper = min doc_id — the
       mirror/re-crawl case)
    4. OPT-IN fuzzy near-dup removal (MinHash-LSH pairs → connected
       components → keeper filter — the RefinedWeb/CCNet fuzzy pass)
    5. chunk-level dedup (CCNet first-occurrence boilerplate removal)

Stage order is the cost argument: the gate filter drops junk BEFORE
anything shuffles; exact dedup runs BEFORE chunking so whole-document
duplicates are dropped at one-hash-per-doc cost instead of being
exploded into chunks that all die anyway (and chunk_dedup's global
first-occurrence guarantee makes a post-chunk exact pass provably
dead: every surviving chunk is corpus-unique, so no two prepped texts
can collide).  The fuzzy stage sits AFTER exact dedup (so LSH never
sees the degenerate identical-doc buckets — the bucket_cap guard in
minhash_lsh_pairs never fires) and BEFORE chunking (a dropped
near-dup never pays the chunk explode).  Every stage is an existing
audited operator — this file adds composition, not new physics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lifetimes import checkpoint, persist
from .dedup import chunk_dedup


def prep_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_distinct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.0,
    chunk_words: int = 10,
    fuzzy_threshold: float | None = None,
    fuzzy_k: int = 3,
    fuzzy_n_hashes: int = 32,
    fuzzy_n_bands: int = 16,
    fuzzy_hash_family: str = "xxhash64",
) -> DataFrame:
    """Returns one row per SURVIVING document:
    ``(doc_id, text_prepped, lang, n_tokens, n_chunks, n_kept)``
    where the document survived (a) the quality gate, (b) exact
    dedup of the raw text (keeper = min doc_id), (b') when
    ``fuzzy_threshold`` is set, MinHash-LSH near-dup clustering
    (keeper = the connected component's min doc_id; every non-keeper
    member of a near-dup cluster is dropped), and (c) chunk dedup
    leaving at least one chunk; ``text_prepped`` is the chunk-deduped
    text.

    The fuzzy stage composes three individually-graded operators —
    :func:`~.dedup.minhash_lsh_pairs` (banded candidates +
    exact-Jaccard confirm at ``fuzzy_threshold``),
    :func:`~.components.dedup_keep_list` (min-label connected
    components), and a left-anti keeper filter — so its semantics are
    exactly "drop every doc whose component has a smaller member".
    ``fuzzy_hash_family='md5'`` makes the banding DuckDB-replayable
    (oracle parity); production keeps the xxhash64 default (8-byte
    shuffle keys).
    """
    from ..functions.partitioning import spread_small_scan

    # r7: the gate's stat expressions (lang-ID marker intersects +
    # quality ratios) are map-side CPU over what is a single-split
    # parquet scan at bench scale — spread first (no-op at real scan
    # widths)
    src = spread_small_scan(docs.select(id_col, text_col))
    # r7 second pass: the expression gate (textstats.lang_id +
    # quality_features) duplicates the tokenize+distinct subtree ~50x
    # (CollapseProject re-inlines any factoring; janino then refuses
    # the giant method and the stage runs INTERPRETED).  One Arrow
    # pass emits the exact integer counts; every float/round stays
    # JVM-side, derived from those ints — bit-identical to the
    # expressions by construction (pinned by
    # test_gate_counts_arrow_matches_jvm_expressions).
    from ..functions.textstats import (
        gate_count_rows_arrow,
        gate_stats_from_counts,
    )

    counts = gate_count_rows_arrow(src, id_col, text_col)
    stats = counts.select(
        F.col(id_col),
        F.col(text_col),
        *gate_stats_from_counts(counts, text_col),
    )
    # persist the stat table (r7 third pass): the keeper semi-join
    # below references `gated` on BOTH sides (payload + exact_dedup's
    # aggregation input), and the plan audit showed the gate's Arrow
    # count pass executing twice per materialization because of it
    # (plans/r07/prep_corpus_after.txt held two distinct MapInPandas
    # instances of the same gen).  One executor-local cache of
    # (id, text, stats) makes the pass run once — measured 1.9–2.2 s
    # → 0.9–1.0 s for the fuzzy path's checkpoint fill on the 10×
    # corpus.
    stats = persist(stats)
    gated = stats.where(
        F.col("lang").isin(list(langs))
        & F.col("n_tokens").between(min_tokens, max_tokens)
        & (F.col("distinct_ratio") >= min_distinct_ratio)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
    )
    # exact dedup on raw text: REUSE the audited operator (min-doc_id
    # keeper per md5 — one 16-byte hash per doc shuffles, not the
    # text).  The survivors are then selected by a SEMI JOIN on the
    # keeper IDS, not a re-join on text_md5 (r7, guide §2.3/§8): ids
    # are unique document keys (the contract every downstream stage —
    # keeper anti-join, chunk_dedup — already assumes), so
    # "doc_id ∈ keeper_ids" ⇔ "this row is its md5 group's keeper",
    # and the text-carrying side now joins on an 8-byte key the
    # planner can satisfy with a broadcast when the keeper set is
    # small (at bench scale: no text shuffle at all) instead of
    # always hash-shuffling the payload by text_md5.
    from .dedup import exact_dedup

    keep_ids = exact_dedup(gated, id_col=id_col, text_col=text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    unique_docs = gated.join(keep_ids, id_col, "left_semi").select(
        id_col, text_col, "lang", "n_tokens"
    )
    if fuzzy_threshold is None:
        # lazy persist (r6): unique_docs feeds chunk_dedup AND the
        # final stat re-attach — separate stages of the same action,
        # each re-running the gate's codegen'd expression trees + the
        # dedup join without it.  persist (not checkpoint) on this
        # path: the first executing stage fills the cache and lineage
        # stays intact, so the keeper branch keeps the pruned parquet
        # scan the plan audit pins.  The fuzzy branch below
        # checkpoints instead (plan-SIZE blowup there, a cache lookup
        # under the same giant analyzed tree would not help).
        unique_docs = persist(unique_docs)
    else:
        from .components import dedup_keep_list
        from .dedup import minhash_lsh_pairs

        # Cut lineage HERE (r6): unique_docs is consumed by four
        # downstream plans (LSH signatures + exact-Jaccard confirm,
        # the keeper anti-join, chunk dedup, the final stat
        # re-attach), and the LSH band build references its subtree
        # once per band PER JOIN SIDE — without the cut, the gate's
        # large codegen'd expression trees (lang-ID + quality
        # features) are compiled and the gate+dedup stages re-executed
        # ~30x.  Measured at sf0.1: 271s -> ~30s.  localCheckpoint
        # (not persist) because the blowup is PLAN-size-driven: every
        # duplicated leaf must become a flat Scan ExistingRDD, not a
        # cache lookup under the same giant analyzed tree.  At corpus
        # scale this materializes the gated+deduped corpus once to
        # executor-local storage — the same durability class as the
        # components/pagerank iteration checkpoints, and strictly
        # cheaper than re-running the gate per consumer.
        unique_docs = checkpoint(unique_docs)
        pairs = minhash_lsh_pairs(
            unique_docs,
            id_col=id_col,
            text_col=text_col,
            k=fuzzy_k,
            n_hashes=fuzzy_n_hashes,
            n_bands=fuzzy_n_bands,
            threshold=fuzzy_threshold,
            hash_family=fuzzy_hash_family,
        )
        # non-keepers only: docs untouched by any pair never appear in
        # the keep list and survive by the anti join's absence
        drop = (
            dedup_keep_list(pairs, src="id_a", dst="id_b")
            .where(~F.col("is_keeper"))
            .select(F.col("node").alias(id_col))
        )
        unique_docs = unique_docs.join(drop, id_col, "left_anti")
    deduped = chunk_dedup(
        unique_docs, id_col=id_col, text_col=text_col, chunk_words=chunk_words
    ).where(F.col("n_kept") > 0)
    # re-attach the per-doc stats (both sides keyed on id_col;
    # survivors only)
    return deduped.join(
        unique_docs.select(id_col, "lang", "n_tokens"), id_col
    ).select(
        id_col,
        F.col("text_dedup").alias("text_prepped"),
        "lang",
        "n_tokens",
        "n_chunks",
        "n_kept",
    )
