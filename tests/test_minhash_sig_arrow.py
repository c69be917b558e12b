"""r7 optimization pins for the memoized md5 Arrow builders of
operators/dedup.py, each against an independent reference — including
the degenerate docs (under k words, empty, NULL text) and a vocabulary
past the memo caps:

* _minhash_sig_rows_arrow (the md5 MinHash signatures) against the
  groupBy(min(md5('mh{i}#' || shingle))) JVM aggregation the DuckDB
  oracle replays — same shingling, same UTF-8 md5 hex, same string
  min order;
* _simhash_fp_rows_arrow (the md5 SimHash fingerprints) against the
  DuckDB replay __spark_entry__._sql_simhash_fp_cte — the grading
  oracle of the simhash queries."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from crypto_crawler_rs_spark.operators import dedup
from crypto_crawler_rs_spark.operators.dedup import (
    _minhash_sig_rows_arrow,
    shingle_rows,
    simhash_fingerprints,
)


def _sig_rows(docs, n_hashes):
    """(arrow, JVM-agg) md5 MinHash signature rows, sorted."""
    ex = shingle_rows(docs, "doc_id", "text", 3)
    jvm = ex.groupBy("_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"mh{i}#"), F.col("_s")))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    arrow = _minhash_sig_rows_arrow(docs, "doc_id", "text", 3, n_hashes)
    assert arrow.columns == jvm.columns
    return (
        sorted(map(tuple, arrow.collect())),
        sorted(map(tuple, jvm.collect())),
    )


def _simhash_rows(docs):
    """(Spark md5/60-bit, DuckDB replay) SimHash rows, sorted."""
    got = sorted(
        map(tuple, simhash_fingerprints(docs, hash_family="md5", n_bits=60).collect())
    )
    con = duckdb.connect()
    con.register("documents", docs.select("doc_id", "text").toPandas())
    want = sorted(
        con.execute(
            f"WITH {entrymod._sql_simhash_fp_cte()} SELECT doc_id, simhash FROM fp"
        ).fetchall()
    )
    return got, want


def test_arrow_sig_path_matches_jvm_agg(spark):
    docs = spark.range(0, 400).selectExpr(
        "id as doc_id",
        # repeated small vocabulary => the partition-local memo path
        # actually engages (same shingle hashed via memo and via agg)
        "concat_ws(' ', 'tok', cast(id % 7 as string), 'a b c d e', "
        "cast(id % 3 as string), 'x y z') as text",
    )
    a, j = _sig_rows(docs, 16)
    assert len(a) == 400
    assert a == j


def test_simhash_arrow_twin_matches_jvm_agg(spark):
    """The reference is the DuckDB replay of the signed bit-sum
    aggregation over token occurrences."""
    docs = spark.range(0, 300).selectExpr(
        "id as doc_id",
        # repeated tokens both within and across docs: multiplicity
        # must count (the sums aggregate over occurrences, not the set)
        "concat_ws(' ', 'alpha', cast(id % 5 as string), 'beta beta', "
        "cast(id % 2 as string), 'gamma') as text",
    )
    got, want = _simhash_rows(docs)
    assert len(got) == 300
    assert got == want


def test_simhash_arrow_twin_degenerate_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, ""),       # split('', ' ') == [''] -> one empty token, HAS a row
            (2, None),     # NULL text -> no tokens -> NO fingerprint row
            (3, "x  y"),   # double space -> empty middle token
            (4, "a a b"),  # within-doc multiplicity
            (5, "a b "),   # trailing space -> trailing empty token
        ],
        "doc_id long, text string",
    )
    got, want = _simhash_rows(docs)
    assert {r[0] for r in got} == {1, 3, 4, 5}
    assert got == want


def test_memo_caps_past_vocabulary(spark, monkeypatch):
    """Both memos are cleared when they reach their cap; a vocabulary
    far past a cap of 3 entries (a Zipf tail past the real caps) must
    leave signatures and fingerprints unchanged."""
    monkeypatch.setattr(dedup, "_MINHASH_MEMO_CAP", 3)
    monkeypatch.setattr(dedup, "_SIMHASH_MEMO_CAP", 3)
    docs = spark.range(0, 200).selectExpr(
        "id as doc_id",
        # a head of repeated tokens (memo hits between clears) and a
        # tail of per-doc tokens (the vocabulary runs past the cap)
        "concat_ws(' ', 'the', concat('w', cast(id as string)), 'of', "
        "concat('v', cast(id % 11 as string)), 'the of', "
        "concat('w', cast(id + 1 as string))) as text",
    )
    a, j = _sig_rows(docs, 8)
    assert len(a) == 200
    assert a == j
    got, want = _simhash_rows(docs)
    assert len(got) == 200
    assert got == want


EDGE_TEXTS = [
    (1, ""),
    (2, None),
    (3, "   "),
    (4, "\t\n the and of \r\n"),      # trim touches 0x20 only; Java split keeps trailing ""
    (5, " the and of"),      # NBSP is NOT Java \s
    (6, "the,and.of!to?in"),
    (7, "café naïve résumé the and of to"),
    (8, "\U0001F600 the and of to emoji"),
    (9, "der die das und ist"),
    (10, "le la les et est"),
    (11, "el la los que de"),          # es/pt marker overlap: tie-break
    (12, "o a os que de um"),
    (13, "x_y_z a1b2 __ the"),
    (14, " \x0b\x0c mixed\x0bws "),    # \x0b IS Java \s but NOT trimmed
    (15, "the the the the and and of"),
    (16, "　the and　of"),     # ideographic space
    (17, "a  b   c"),
    (18, "trailing space "),
    (19, " leading"),
]


def test_gate_counts_arrow_matches_jvm_expressions(spark):
    from pyspark.sql import functions as F

    from crypto_crawler_rs_spark.functions.textstats import (
        gate_count_rows_arrow,
        gate_stats_from_counts,
        lang_id,
        quality_features,
    )

    edge = spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string")
    gen = spark.range(0, 200).selectExpr(
        "id as doc_id",
        "concat_ws(' ', 'the and of', cast(id % 9 as string), 'para um la', "
        "repeat('tok ', cast(id % 7 as int))) as text",
    )
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    for docs in (edge, gen, corpus):
        jvm = docs.select(
            "doc_id", "text", lang_id("text").alias("lang"), *quality_features("text")
        )
        c = gate_count_rows_arrow(docs, "doc_id", "text")
        arr = c.select(F.col("doc_id"), F.col("text"), *gate_stats_from_counts(c))
        assert jvm.columns == arr.columns
        assert sorted(map(tuple, jvm.collect())) == sorted(map(tuple, arr.collect()))


def test_unrolled_expr_dot_norm_match_reduce_fold(spark):
    from functools import reduce as _reduce

    from pyspark.sql import functions as F

    import crypto_crawler_rs_spark.operators.similarity as sim

    assert sim._simple_col_name(F.col("_unit")) == "_unit"
    assert sim._simple_col_name(F.col("a") + F.col("b")) is None
    assert sim._simple_col_name(F.col("x._id")) is None

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.transform("embedding", lambda x: (x * 2).cast("double")).alias("w"),
    )

    def dot_reduce(a, b, dim):
        return _reduce(
            lambda acc, i: acc + F.element_at(a, i + 1) * F.element_at(b, i + 1),
            range(dim),
            F.lit(0.0),
        )

    ref = sorted(map(tuple, v.select(
        "vec_id",
        dot_reduce(F.col("v"), F.col("w"), 64).alias("d"),
        F.sqrt(dot_reduce(F.col("v"), F.col("v"), 64)).alias("n"),
    ).collect()))
    got = sorted(map(tuple, v.select(
        "vec_id",
        sim._dot(F.col("v"), F.col("w"), 64).alias("d"),
        sim._norm(F.col("v"), 64).alias("n"),
    ).collect()))
    assert ref == got


def test_arrow_sig_path_degenerate_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "one two"),          # k-1 words: no shingles, no row
            (3, "one two three"),    # exactly k words: one shingle
            (4, None),               # NULL text
            (5, "a a a a"),          # duplicate shingles collapse
        ],
        "doc_id long, text string",
    )
    a, j = _sig_rows(docs, 8)
    assert {r[0] for r in a} == {3, 5}
    assert a == j
