"""Scalable deterministic global rank.

The reference's priority sort is a single in-memory Vec sort
(crypto-crawler/src/utils/cmc_rank.rs:320-329).  A naive Spark
translation — ``row_number().over(Window.orderBy(...))`` — collapses
to ONE partition and dies at 10^10 rows.  Instead we use the classic
two-pass range-partitioned rank:

1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order
   columns (one shuffle, partitions stay bounded);
2. a tiny per-partition count job -> cumulative offsets broadcast;
3. ``mapInPandas`` adds ``offset + local_index`` per partition.

Total order must be unambiguous (include a unique tie-break column,
e.g. ``url``) or ranks are nondeterministic across runs.
"""

from __future__ import annotations

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.lifetimes import broadcast, persist


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a 1-based dense global row number ordered by
    ``order_cols`` (must be a total order)."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    cols = [F.col(c) for c in order_cols]
    part = df.repartitionByRange(num_partitions, *cols).sortWithinPartitions(*cols)
    part = persist(part)
    counts = (
        part.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .collect()
    )
    if not counts:
        part.unpersist()
        return df.withColumn(out_col, F.lit(None).cast("long")).limit(0)
    by_pid = {r["_pid"]: r["count"] for r in counts}
    offsets = {}
    acc = 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]
    bc = broadcast(spark.sparkContext, offsets)

    out_schema = StructType(part.schema.fields + [StructField(out_col, LongType(), False)])

    def add_rank(iterator):
        import numpy as np

        pid = TaskContext.get().partitionId()
        base = bc.value.get(pid, 0)
        seen = 0
        for pdf in iterator:
            pdf = pdf.copy()
            pdf[out_col] = np.arange(seen + 1, seen + 1 + len(pdf), dtype="int64") + base
            seen += len(pdf)
            yield pdf

    return part.mapInPandas(add_rank, schema=out_schema)
