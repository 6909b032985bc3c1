"""Shared partitioning helpers.

Every Python task pays a fixed cost before its UDF body starts: ~0.13 s
from task launch to the first line of a trivial ``mapInPandas`` on a
4-vCPU local[4] host, and a plain RDD map took 0.28 s for 4 tasks against
0.56 s for 8. On small inputs the number of Python task waves, not the
numpy work inside them, sets a stage's length, so these helpers size
Python stages in whole waves and never add a task that has no work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# scored edges per grouped-HAC task below which a task's numpy work is
# shorter than its fixed Python cost
HAC_EDGES_PER_TASK = 1000


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition a DataFrame to one task per core when its
    partitions would not fill whole waves of the cores: fewer partitions
    than cores, or between one and two waves (cores < n < 2 * cores). It is
    the shared defensive guard in front of narrow-but-CPU-heavy passes
    (signature/fingerprint UDFs, per-doc gram explodes): scan splits are
    byte-based, python/gram cost is row-based, so a small or
    well-compressed local input can scan into fewer partitions than cores
    and pin the whole pass to them (measured in r6: the single-split sf0.1
    documents table ran every narrow gram/fingerprint stage on ONE core).

    One task per core: a second wave of small Python tasks pays the fixed
    per-task cost (module docstring) again for little balance. On the
    2,400-file hot_bands input, 8 signature tasks over 4 scan splits each
    did ~0.03 s of hashing behind ~0.2 s of task time. Between one and two
    waves, a full wave plus a partial one idles cores: the signature stage
    over 40,000 files with 6x content took 6.4 s on 5 partitions kept, 5.2
    s repartitioned to 4 and 6.0 s to 8 (local[4], BENCH/NOTES.md). File
    inputs already scan into about one split per core (Spark sizes splits
    at max(openCostInBytes, input bytes / cores)), so they usually keep
    their scan partitions and skip the content shuffle. Returns `df`
    itself when it is already partitioned in whole waves, so callers can
    test `is`."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n < 2 * cores and n != cores:
        return df.repartition(cores)
    return df


def hac_tasks(spark: SparkSession, n_edges: int | None) -> int:
    """Task count of the grouped HAC over `n_edges` scored edges: one task
    per HAC_EDGES_PER_TASK edges, at most two waves of the cores (HAC is
    at least quadratic per component, so big graphs want the balance);
    two waves when the edge count is unknown."""
    cores2 = spark.sparkContext.defaultParallelism * 2
    if n_edges is None:
        return cores2
    return max(1, min(cores2, -(-int(n_edges) // HAC_EDGES_PER_TASK)))

