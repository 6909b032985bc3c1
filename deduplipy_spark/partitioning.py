"""Shared partitioning helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition a DataFrame up to two tasks per core when
    its current partitioning is below that — the shared defensive
    guard in front of narrow-but-CPU-heavy passes (signature/fingerprint
    UDFs, per-doc gram explodes): scan splits are byte-based, python/gram
    cost is row-based, so a small or well-compressed local input can scan
    into fewer partitions than cores and pin the whole pass to them
    (measured in r6: the single-split sf0.1 documents table ran every
    narrow gram/fingerprint stage on ONE core). A real deployment scans
    thousands of splits and never takes the branch. Returns `df` itself
    when it is already partitioned enough, so callers can test `is`."""
    min_parts = df.sparkSession.sparkContext.defaultParallelism * 2
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df
