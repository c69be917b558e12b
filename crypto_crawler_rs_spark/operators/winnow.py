"""Winnowing passage fingerprints — local document fingerprinting
(Schleimer, Wilkerson, Aiken 2003, the MOSS algorithm) for
passage-level duplicate detection.

Whole-doc hashing (``doc_fingerprint``) misses documents that share a
copied PASSAGE inside otherwise-different text — boilerplate blocks,
syndicated paragraphs, license headers — the webtext case MinHash
handles only probabilistically at the whole-doc level.  Winnowing
gives a deterministic local guarantee: selecting the minimum k-gram
hash in every sliding window of ``w`` consecutive k-grams ensures any
shared token run of length >= w + k - 1 contributes at least one
IDENTICAL selected fingerprint to both documents.

Reference analog: the frame-level dedup of replayed websocket streams
(crypto-ws-client reconnect replay discards already-seen frames by
content) — applied at sub-document granularity.

Scale shape: fingerprint selection is one Arrow-batched
``mapInPandas`` pass (tokens -> k-gram md5 strings -> per-window min
-> distinct) — zero shuffle; a pure-JVM higher-order-function build
is interpreted per element and measured ~12x slower at sf0.1, the
same stay-JVM exception as ``dedup.shingle_rows``.  Pair detection
is the dedup family's inverted-index discipline: explode selected
fingerprints, df-cap the stop-fingerprints (the fanout guard, same as
``ngram_jaccard_pairs``), equi-join on the fingerprint — banded, never
all-pairs.  Hashes are md5 hex strings so the DuckDB oracle replays
them exactly; ``winnow_passage_pairs(key_family='xxhash64')`` swaps
the exploded JOIN key to xxhash64 of the fingerprint (8-byte
shuffle/groupBy keys instead of 32-char hex) — selection stays md5
so the fingerprint SET is unchanged and the pair results are
identical modulo 64-bit collisions (pinned by
``test_winnow_prod_key_family``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Returns ``(id_col, fingerprints)``: the document's DISTINCT
    selected k-gram hashes (md5 hex of space-joined k-token grams),
    one min per sliding window of ``w`` grams.  Documents shorter
    than k tokens get an empty array; documents with fewer than ``w``
    grams keep their single min.  The id field keeps the caller's
    type.

    One Arrow-batched python pass: ~2s at sf0.1, where a JVM
    higher-order-function build, interpreted per element, took 24.7s.
    Pinned against a brute-force python twin by
    ``test_fingerprints_match_python_twin``."""

    def gen(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, fps = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").strip().split()
                grams = [
                    hashlib.md5(
                        " ".join(toks[i : i + k]).encode()
                    ).hexdigest()
                    for i in range(len(toks) - k + 1)
                ]
                if not grams:
                    sel = []
                elif len(grams) < w:
                    sel = [min(grams)]
                else:
                    sel = list(
                        dict.fromkeys(
                            min(grams[j : j + w])
                            for j in range(len(grams) - w + 1)
                        )
                    )
                ids.append(did)
                fps.append(sel)
            yield pd.DataFrame({id_col: ids, "fingerprints": fps})

    # the id field keeps the CALLER's type (ADVICE r5): a hardcoded
    # `long` broke/miscast string or int doc ids
    id_type = df.schema[id_col].dataType.simpleString()
    # r7: one md5 per k-gram in python — spread the single-split
    # bench scan so the pass uses every core (no-op at scan width)
    from ..functions.partitioning import spread_small_scan

    return spread_small_scan(df.select(id_col, text_col)).mapInPandas(
        gen, schema=f"{id_col} {id_type}, fingerprints array<string>"
    )


def winnow_passage_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    df_cap: int = 100,
    key_family: str = "string",
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` selected fingerprints
    — candidates for passage-level duplication.  ``df_cap`` drops
    fingerprints present in more than that many documents (corpus
    boilerplate connects everything; its join fanout is df² — the same
    skew guard as ``ngram_jaccard_pairs``).  Returns
    ``(id_a, id_b, shared_fps)`` with ``id_a < id_b``.

    ``key_family='xxhash64'`` re-keys the exploded inverted index on
    xxhash64 of the md5 fingerprint — same selection, same pairs,
    8-byte join/groupBy keys for the production path.

    The exploded fingerprint index is persisted: it feeds THREE
    consumers (the df-cap count and both self-join sides), and
    without the persist the arrow winnowing pass (one md5 per k-gram
    in python) re-ran per consumer (r7, guide §2.4; measured 3x the
    fingerprint cost at sf1.0)."""
    from ..functions.lifetimes import persist

    if key_family not in ("string", "xxhash64"):
        raise ValueError(f"key_family must be string|xxhash64, got {key_family!r}")
    fp = (
        winnow_fingerprints(df, id_col, text_col, k, w)
        .select(F.col(id_col).alias("_id"), F.explode("fingerprints").alias("_fp"))
    )
    if key_family == "xxhash64":
        fp = fp.withColumn("_fp", F.xxhash64("_fp"))
    fp = persist(fp)
    keep = (
        fp.groupBy("_fp")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= df_cap)
        .select("_fp")
    )
    fp = fp.join(keep, "_fp")
    pairs = (
        fp.alias("a")
        .join(fp.alias("b"), "_fp")
        .where(F.col("a._id") < F.col("b._id"))
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
    return pairs
