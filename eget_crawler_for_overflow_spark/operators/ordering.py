"""Deterministic global sequence assignment without a single-partition window.

The reference's FIFO queue hands out one monotonically increasing admission
order (queue_manager.py:54). The naive Spark translation —
``row_number() OVER (ORDER BY ...)`` — collapses the whole dataset into ONE
task, which is exactly the kind of plan that dies at 10^10 rows. Instead we
do the classic two-pass zip-with-index over a range partitioning:

1. ``repartitionByRange`` + ``sortWithinPartitions`` on the (unique) order
   key — a single shuffle, same cost class as any sort;
2. count rows per partition (cheap agg), cumulative-sum the counts on the
   driver (P integers, not rows);
3. ``mapInPandas`` adds ``offset + local_position`` per partition.

Order keys MUST be a unique key of the frame (range partitioning may split
equal keys across partitions).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def assign_seq_counted(
    df: DataFrame,
    order_cols: list[str],
    start: int = 0,
    seq_col: str = "enqueue_seq",
    num_partitions: int | None = None,
    single_partition: bool = False,
) -> tuple[DataFrame, int]:
    """``df`` with ``seq_col`` = ``start`` + its position in ``order_cols``
    order, plus the total row count for free: the per-partition count
    pass already sums to the wave size, so callers that need both (the
    crawl loop's admitted-count metric) avoid a second job.

    ``single_partition=True`` is the small-wave fast path: when the caller
    KNOWS the frame fits comfortably in one partition (the crawl loop
    knows the wave's candidate count before admission), range partitioning
    is pure overhead — ``repartitionByRange`` runs a whole extra sampling
    JOB to pick bounds, and the per-partition count pass is a second. The
    fast path shuffles to one partition (upstream filters stay parallel),
    sorts locally inside the pinned pass, and assigns ``start + i``
    directly on the JVM — identical output and schema (order keys are a
    unique key, so the global sort order equals the per-partition order),
    two fewer jobs and no Python stage per generation."""
    spark = df.sparkSession
    if single_partition:
        # one partition (index 0), sorted locally: monotonically_increasing_id
        # is then the row's position, a JVM projection with no Python stage.
        # try_add keeps the column nullable, as the mapInPandas it replaced.
        one = df.repartition(1).sortWithinPartitions(*order_cols)
        # pin AFTER the seq pass (r7): the fast path needs no count before
        # assigning (seq = start + position), so pinning the OUTPUT costs
        # the same one materialization job but saves every downstream
        # consumer (seen add, host-counts bump, fetch broadcast, final
        # union) a re-run of the shuffle and sort per action.
        # Determinism is unchanged: order_cols are a unique key, so the
        # single-partition sort is a deterministic total order regardless
        # of shuffle arrival order.
        out = one.withColumn(
            seq_col, F.try_add(F.monotonically_increasing_id(), F.lit(start))
        ).localCheckpoint(eager=True)
        n = out.count()  # O(ms): a count over one pinned partition
        return out, n
    if num_partitions is None:
        num_partitions = max(2, spark.sparkContext.defaultParallelism)
    # Pin the input BEFORE range partitioning: repartitionByRange runs a
    # hidden SAMPLING job over its child, which would otherwise re-execute
    # the caller's whole upstream pipeline (in the crawl loop: the dedup
    # agg + seen anti-join) a second time per call. Trades one wave-sized
    # sequential write for a full upstream recompute — ~3-6% off the
    # forced-range-path sf0.1 crawl (A/B in BASELINE.md round-6, identical
    # output), and strictly safer at design scale where the upstream is a
    # 10^10-row anti-join a sampling pass must never re-run.
    df = df.localCheckpoint(eager=True)
    ranged = (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    ranged = ranged.localCheckpoint(eager=True)  # pin partitioning across 2 passes
    counts = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(
        [f for f in ranged.schema.fields if f.name != "__pid"]
        + [T.StructField(seq_col, T.LongType())]
    )

    def add_seq(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf["__pid"].iloc[0])]
            pdf = pdf.drop(columns="__pid")
            pdf[seq_col] = range(pos, pos + len(pdf))
            pos += len(pdf)
            yield pdf

    return ranged.mapInPandas(add_seq, out_schema), acc - start


def top_k(df: DataFrame, order_cols: list[str], k: int) -> DataFrame:
    """Deterministic global top-k: Spark compiles orderBy+limit to
    TakeOrderedAndProject (per-partition heaps + driver merge), never a
    global sort — the right primitive for budget truncation
    (queue_manager.py:49 / crawler_service.py:125-127)."""
    return df.orderBy(*order_cols).limit(k)
