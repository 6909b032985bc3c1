"""Microbench: the distributed connected-components loop (VERDICT r4 #7).

Two synthetic shapes at ~16M edges, the driver-CC cutoff
(``components.auto_driver_max_edges``) patched to 0 so the distributed
loop runs:

- "lsh":    the realistic dedup graph — many small cliques (low diameter,
            converges in ~3 frontier rounds).
- "chain":  long paths (high diameter, many rounds) — every label keeps
            changing, so the loop switches from frontier to classic
            rounds.

Each shape times the shipped loop best-of-2 and checks its component
count against the driver union-find path on the same edges.

Usage: python scripts/bench_cc.py [n_edges] [shape ...]
(local[N] from SPARK_GRAFT_CPUS). Prints one JSON line per shape with wall
seconds, host steal ticks and component count.
"""

from __future__ import annotations

import json
import os
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
    stay cached for the caller — here 4 paired runs x 16M rows would
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
        # best-of-2: single samples on a multi-tenant host are not
        # comparable (BENCH/NOTES.md)
        best = None
        components.auto_driver_max_edges = lambda s: 0
        for _ in range(2):
            s0, t0 = _steal(), time.monotonic()
            out = connected_components(e, edge_count=n)
            n_comp = out.select("component").distinct().count()
            dt = time.monotonic() - t0
            _drop_finished_caches(spark, keep=e)
            if best is None or dt < best["wall_sec"]:
                best = {"wall_sec": round(dt, 2), "steal": _steal() - s0,
                        "components": n_comp}
        components.auto_driver_max_edges = lambda s: n
        driver = (connected_components(e, edge_count=n)
                  .select("component").distinct().count())
        print(json.dumps({"shape": shape, "edges": n, **best}), flush=True)
        assert best["components"] == driver, (best["components"], driver)
    spark.stop()


if __name__ == "__main__":
    main()
