"""Microbench: the distributed connected-components loop (VERDICT r4 #7).

Two synthetic shapes at ~16M edges, the driver-CC cutoff
(``components.auto_driver_max_edges``) patched to 0 so the distributed
loop runs:

- "lsh":    the realistic dedup graph — many small cliques (low diameter,
            converges in ~3 frontier rounds).
- "chain":  long paths (high diameter, many rounds) — every label keeps
            changing, so the loop switches from frontier to classic
            rounds.

Each shape times the shipped loop SAMPLES times after one untimed
warm-up run, and checks every run's component count against the driver
union-find path on the same edges. One sample says little on a shared
host (two best-of-2 runs of the same code at 200000 chain edges gave
16.84 s and 11.88 s), so the spread is reported beside the centre.

Usage: python scripts/bench_cc.py [n_edges] [shape ...]
(local[N] from SPARK_GRAFT_CPUS). Prints one JSON line per shape with the
min, median and interquartile range of the wall seconds, every sample's
wall seconds and host steal ticks, and the component count.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from deduplipy_spark.operators import components
from deduplipy_spark.operators.components import (
    _checkpoint_rdd,
    connected_components,
)
from deduplipy_spark.session import get_spark

SAMPLES = 5


def edges_lsh(spark, n_edges: int):
    """Cliques of 8 (star-encoded: 7 edges per clique of 8 nodes)."""
    n_cliques = n_edges // 7
    return (
        spark.range(n_cliques * 7)
        .select(
            (F.col("id") / 7).cast("long").alias("c"),
            (F.col("id") % 7).alias("m"),
        )
        .select(
            (F.col("c") * 8).alias("id_1"),
            (F.col("c") * 8 + F.col("m") + 1).alias("id_2"),
        )
    )


def edges_chain(spark, n_edges: int, chain_len: int = 4096):
    """Paths of `chain_len` nodes -> diameter stresses round count."""
    n_chains = n_edges // (chain_len - 1)
    n = n_chains * (chain_len - 1)
    return (
        spark.range(n)
        .select(
            ((F.col("id") / (chain_len - 1)).cast("long") * chain_len
             + F.col("id") % (chain_len - 1)).alias("id_1"),
        )
        .select("id_1", (F.col("id_1") + 1).alias("id_2"))
    )


def _drop_finished_caches(spark, keep) -> None:
    """Free the finished run's final-label checkpoint blocks (the rounds
    free their own intermediates since round 5, but the RETURNED labels
    stay cached for the caller — here SAMPLES runs x 16M rows would
    accumulate). Keeps only the shared input's blocks."""
    jrdd = _checkpoint_rdd(keep)
    if jrdd is None:
        # can't identify the input's blocks -> skip cleanup rather than
        # unpersist the unrecoverable localCheckpoint'd input with the rest
        return
    keep_id = jrdd.id()
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keys()):
            if rid != keep_id:
                jmap[rid].unpersist(False)
    except Exception:
        pass


def _steal() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    shapes = sys.argv[2:] or ["lsh", "chain"]
    spark = get_spark("bench-cc")
    for shape in shapes:
        e = (edges_lsh if shape == "lsh" else edges_chain)(spark, n_edges)
        e = e.repartition(32).localCheckpoint()     # input cost excluded
        n = e.count()
        components.auto_driver_max_edges = lambda s: 0
        walls, steals, comps = [], [], []
        # run 0 is an untimed warm-up: at 200000 edges the first distributed
        # run of a shape took 2.7x (lsh) and 1.2x (chain) the median of the
        # next four
        for k in range(1 + SAMPLES):
            s0, t0 = _steal(), time.monotonic()
            out = connected_components(e, edge_count=n)
            comps.append(out.select("component").distinct().count())
            if k:
                walls.append(round(time.monotonic() - t0, 2))
                steals.append(_steal() - s0)
            _drop_finished_caches(spark, keep=e)
        components.auto_driver_max_edges = lambda s: n
        driver = (connected_components(e, edge_count=n)
                  .select("component").distinct().count())
        q1, _, q3 = statistics.quantiles(walls, n=4)
        print(json.dumps({
            "shape": shape, "edges": n, "min_sec": min(walls),
            "median_sec": statistics.median(walls),
            "iqr_sec": round(q3 - q1, 2), "wall_sec": walls,
            "steal": steals, "components": driver}), flush=True)
        assert comps == [driver] * (1 + SAMPLES), (comps, driver)
    spark.stop()


if __name__ == "__main__":
    main()
