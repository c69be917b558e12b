"""Incremental MinHash-LSH (r6): write_band_index /
incremental_lsh_pairs / compact_band_index vs a full-corpus
minhash_lsh_pairs oracle — the fuzzy-dedup leg of the incremental
family (digests: filter_new_digests; clusters:
incremental_components).  The claimed equivalence: pairs emitted for
a new batch == the full-corpus run's pairs touching that batch, with
bit-identical band collisions regardless of which batch indexed a
document first."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

PARAMS = dict(k=3, n_hashes=16, n_bands=8, threshold=0.2, n_buckets=8)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus():
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    alt = "a slow green turtle walks under the busy bridge past the new river bank"
    rows = []
    for i in range(12):
        words = (base if i % 2 == 0 else alt).split()
        words[i % len(words)] = f"tok{i}"
        rows.append((i, " ".join(words)))
    # exact-ish near-dups across the batch boundary and within batches
    rows.append((20, base))
    rows.append((21, base + " extra"))
    rows.append((22, alt))
    rows.append((23, alt + " extra"))
    return rows


def _pairs_key(df):
    return sorted(
        (int(r.id_a), int(r.id_b), float(r.jaccard)) for r in df.collect()
    )


def test_incremental_matches_full_run(spark, tmp_path):
    from crypto_crawler_rs_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_lsh_pairs,
        write_band_index,
    )

    rows = _corpus()
    batch1 = [r for r in rows if r[0] % 2 == 0]
    batch2 = [r for r in rows if r[0] % 2 == 1]
    new_ids = {r[0] for r in batch2}

    full = minhash_lsh_pairs(
        _docs(spark, rows),
        k=PARAMS["k"],
        n_hashes=PARAMS["n_hashes"],
        n_bands=PARAMS["n_bands"],
        threshold=PARAMS["threshold"],
    )
    want = [
        t
        for t in _pairs_key(full)
        if t[0] in new_ids or t[1] in new_ids
    ]
    assert want, "fixture must produce cross/within-batch pairs"

    idx = str(tmp_path / "idx0")
    write_band_index(
        _docs(spark, batch1),
        idx,
        k=PARAMS["k"],
        n_hashes=PARAMS["n_hashes"],
        n_bands=PARAMS["n_bands"],
        n_buckets=PARAMS["n_buckets"],
    )
    got = incremental_lsh_pairs(
        _docs(spark, batch2),
        [idx],
        k=PARAMS["k"],
        n_hashes=PARAMS["n_hashes"],
        n_bands=PARAMS["n_bands"],
        threshold=PARAMS["threshold"],
        n_buckets=PARAMS["n_buckets"],
    )
    assert _pairs_key(got) == want
    # sanity: both cross-batch (new-old) and within-batch (new-new)
    # pairs are present
    kinds = {(a in new_ids, b in new_ids) for a, b, _ in want}
    assert (True, True) in kinds and len(kinds) > 1


def test_multi_delta_equals_compacted(spark, tmp_path):
    from crypto_crawler_rs_spark.operators.dedup import (
        compact_band_index,
        incremental_lsh_pairs,
        write_band_index,
    )

    rows = _corpus()
    b1 = [r for r in rows if r[0] % 3 == 0]
    b2 = [r for r in rows if r[0] % 3 == 1]
    b3 = [r for r in rows if r[0] % 3 == 2]
    i1, i2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    kw = dict(
        k=PARAMS["k"],
        n_hashes=PARAMS["n_hashes"],
        n_bands=PARAMS["n_bands"],
        n_buckets=PARAMS["n_buckets"],
    )
    write_band_index(_docs(spark, b1), i1, **kw)
    write_band_index(_docs(spark, b2), i2, **kw)
    qkw = dict(kw, threshold=PARAMS["threshold"])
    via_deltas = incremental_lsh_pairs(_docs(spark, b3), [i1, i2], **qkw)
    comp = compact_band_index(
        spark, [i1, i2], str(tmp_path / "cmp"), n_buckets=PARAMS["n_buckets"]
    )
    via_compact = incremental_lsh_pairs(_docs(spark, b3), [comp], **qkw)
    assert _pairs_key(via_deltas) == _pairs_key(via_compact)
    assert len(_pairs_key(via_deltas)) > 0


def test_incremental_feeds_incremental_components(spark, tmp_path):
    """Close the loop: batch-2 pairs folded into batch-1 labels equal
    a full-corpus clustering — keepers stable across the increment."""
    from crypto_crawler_rs_spark.operators.components import (
        connected_components,
        incremental_components,
    )
    from crypto_crawler_rs_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_lsh_pairs,
        write_band_index,
    )

    rows = _corpus()
    batch1 = [r for r in rows if r[0] % 2 == 0]
    batch2 = [r for r in rows if r[0] % 2 == 1]
    kw = dict(
        k=PARAMS["k"],
        n_hashes=PARAMS["n_hashes"],
        n_bands=PARAMS["n_bands"],
    )
    p1 = minhash_lsh_pairs(_docs(spark, batch1), threshold=PARAMS["threshold"], **kw)
    prior = connected_components(p1, src="id_a", dst="id_b")
    idx = str(tmp_path / "idx")
    write_band_index(
        _docs(spark, batch1), idx, n_buckets=PARAMS["n_buckets"], **kw
    )
    p2 = incremental_lsh_pairs(
        _docs(spark, batch2),
        [idx],
        threshold=PARAMS["threshold"],
        n_buckets=PARAMS["n_buckets"],
        **kw,
    )
    inc = {
        r.node: r.component
        for r in incremental_components(prior, p2, src="id_a", dst="id_b").collect()
    }
    pall = minhash_lsh_pairs(
        _docs(spark, rows), threshold=PARAMS["threshold"], **kw
    )
    fullc = {
        r.node: r.component
        for r in connected_components(pall, src="id_a", dst="id_b").collect()
    }
    assert inc == fullc


def test_probe_scans_are_bucket_pruned(spark, tmp_path):
    """The index scans must carry STATIC bucket partition filters
    (the seenjoin discipline — deterministic pruning, not the DPP
    heuristic, which declines because the broadcast side has no
    selective predicate): bands pruned to the new batch's buckets,
    shingles to the candidate ids' buckets."""
    from crypto_crawler_rs_spark.operators.dedup import (
        incremental_lsh_pairs,
        write_band_index,
    )

    rows = _corpus()
    batch1 = [r for r in rows if r[0] % 2 == 0]
    batch2 = [r for r in rows if r[0] % 2 == 1]
    idx = str(tmp_path / "idx")
    kw = dict(
        k=PARAMS["k"],
        n_hashes=PARAMS["n_hashes"],
        n_bands=PARAMS["n_bands"],
        n_buckets=PARAMS["n_buckets"],
    )
    write_band_index(_docs(spark, batch1), idx, **kw)
    st: dict = {}
    out = incremental_lsh_pairs(
        _docs(spark, batch2),
        [idx],
        threshold=PARAMS["threshold"],
        stats_out=st,
        **kw,
    )
    out.count()
    for key in ("bands_plan", "shingles_plan"):
        plan = st[key]
        assert "PartitionFilters" in plan, key
        assert "bucket" in plan and " IN " in plan.replace("IN(", " IN ("), key
        # the pruning filter must be on the partition column, i.e.
        # appear inside the PartitionFilters clause, not just as a
        # post-scan Filter
        pf = plan[plan.index("PartitionFilters") :][:400]
        assert "bucket" in pf and ("IN" in pf or "isin" in pf), pf


def test_write_band_index_threaded_arrow_matches_jvm_agg_build(spark, tmp_path):
    """r7: the md5/arrow build writes bands+shingles from two driver
    threads and skips the shingle-table persist (single consumer);
    the xxhash64 build keeps the sequential persist path.  Both must
    produce per-bucket hive layouts whose CONTENT matches the shared
    _band_signatures build exactly."""
    import os

    from crypto_crawler_rs_spark.functions.lifetimes import scope
    from crypto_crawler_rs_spark.operators.dedup import (
        _band_signatures,
        write_band_index,
    )

    docs = _docs(spark, _corpus())
    for fam in ("md5", "xxhash64"):
        idx = str(tmp_path / f"idx_{fam}")
        write_band_index(
            docs, idx, k=3, n_hashes=16, n_bands=8, hash_family=fam,
            n_buckets=8,
        )
        for sub in ("bands", "shingles"):
            assert any(
                d.startswith("bucket=") for d in os.listdir(f"{idx}/{sub}")
            ), (fam, sub)
        got_bands = sorted(
            (int(r._id), int(r._band), str(r._sig))
            for r in spark.read.parquet(f"{idx}/bands").collect()
        )
        with scope() as cached:
            ex, banded = _band_signatures(docs, "doc_id", "text", 3, 16, 8, fam)
            # the shingle table is cached exactly when the signatures
            # read it
            assert len(cached) == (fam == "xxhash64"), fam
            want_bands = sorted(
                (int(r._id), int(r._band), str(r._sig)) for r in banded.collect()
            )
            assert got_bands == want_bands, fam
            got_sh = sorted(
                (int(r._id), int(r._n), str(r._s))
                for r in spark.read.parquet(f"{idx}/shingles").collect()
            )
            want_sh = sorted(
                (int(r._id), int(r._n), str(r._s)) for r in ex.collect()
            )
            assert got_sh == want_sh, fam
