"""Winnowing passage fingerprints (operators/winnow.py): the MOSS
local-guarantee property, a brute-force python twin on real data,
and the pair join."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from crypto_crawler_rs_spark.operators.winnow import (
    winnow_fingerprints,
    winnow_passage_pairs,
)

SF = "/root/testdata/sf0.001"


def _py_winnow(text: str, k: int = 4, w: int = 4) -> set[str]:
    toks = text.strip().split()
    grams = [
        hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
        for i in range(len(toks) - k + 1)
    ]
    if not grams:
        return set()
    if len(grams) < w:
        return {min(grams)}
    return {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}


def test_fingerprints_match_python_twin(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        r["doc_id"]: set(r["fingerprints"])
        for r in winnow_fingerprints(docs).select("doc_id", "fingerprints").collect()
    }
    for r in docs.select("doc_id", "text").collect():
        assert got[r["doc_id"]] == _py_winnow(r["text"]), r["doc_id"]


def test_local_guarantee_shared_passage_detected(spark):
    """Any shared token run of length >= w+k-1 (=7) must share a
    selected fingerprint — the winnowing guarantee."""
    passage = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    df = spark.createDataFrame(
        [
            (1, f"unrelated prefix words here {passage} and a suffix"),
            (2, f"{passage} totally different continuation of text body"),
            (3, "no shared passage at all in this document text"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_passage_pairs(df, min_shared=1, df_cap=10).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["fingerprints"]
        for r in winnow_fingerprints(df).collect()
    }
    assert got[1] == []  # < k tokens: no grams
    assert len(got[2]) == 1  # one gram, below w: its single min
    assert got[3] == []


def test_winnow_prod_key_family(spark):
    """key_family='xxhash64' re-keys the inverted-index join on the
    8-byte hash of the md5 fingerprint — selection unchanged, so the
    pair table must be IDENTICAL (modulo 64-bit collisions, absent on
    this real corpus)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def rows(fam):
        return sorted(
            (r["id_a"], r["id_b"], r["shared_fps"])
            for r in winnow_passage_pairs(
                docs, k=4, w=4, min_shared=2, df_cap=100, key_family=fam
            ).collect()
        )

    a, b = rows("string"), rows("xxhash64")
    assert a == b and len(a) > 0


def test_winnow_key_family_validates(spark):
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="key_family"):
        winnow_passage_pairs(df, key_family="sha1").collect()
