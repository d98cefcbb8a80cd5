"""Partition-layout helpers shared by the operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` to ``defaultParallelism``
    partitions when it has fewer.

    A compact input (one parquet file -> 1-2 splits) otherwise runs the
    Python or explode work of its scan stage on 1-2 cores whatever the
    cluster size; an input that already has enough splits keeps its
    layout and pays no exchange. The explicit partition count is exempt
    from AQE coalescing, so the stage really runs that wide.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, *keys)
    return df
