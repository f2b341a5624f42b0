"""Shared pipeline plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


# Catalyst's "unknown size" sentinel: Long.MaxValue
_UNKNOWN_BYTES = (1 << 63) - 1


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of `df` — the optimized plan's
    statistics, the same number autoBroadcastJoinThreshold routes on —
    or None when the probe raises or the size is unknown (Long.MaxValue,
    e.g. a LogicalRDD from createDataFrame). Callers route None to the
    branch they take for a frame of unknown size."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return None if size >= _UNKNOWN_BYTES else size


def spread(df: DataFrame) -> DataFrame:
    """Fan per-row heavy work (shingling, hashing, dot products) across
    the cluster when the scan arrived as too few splits — a small corpus
    lands in ONE parquet split and serializes the whole map side onto
    one core (measured: the entire minhash/simhash pipeline on 1 of 32
    cores at sf0.1). The repartition shuffles only the raw rows (cheap
    at small scale); at 100 TB the scan already yields thousands of
    splits and this is a no-op."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df
