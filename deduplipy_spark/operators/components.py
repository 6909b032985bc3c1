"""Distributed connected components over the scored-pair edge table.

Replaces ``nx.connected_components`` (``deduplipy/clustering/clustering.py:36``)
— a driver-memory graph — with an iterative DataFrame algorithm:
min-label propagation with pointer-jumping (path compression), the
DataFrame-only variant of Kiveris et al., "Connected Components in MapReduce
and Beyond" (SoCC'14). Converges in O(log d) rounds. Graphs up to
`auto_driver_max_edges` edges take a driver-side union-find instead; above
it, one loop (`_propagate`) runs frontier rounds and switches to classic
all-nodes rounds when the graph's diameter keeps the frontier full.

Scale notes:
- Each round is two shuffles (neighbor-min groupBy + label-lookup join),
  all on the node-id key — no quadratic terms.
- ``localCheckpoint()`` per round truncates lineage (SURVEY §4.3); without
  it the plan doubles every iteration.
- Convergence = zero changed labels; `MAX_CC_ROUNDS` is an assert-style
  backstop, not a silent truncation.

The component id is ``min(file_id)`` over the component — deterministic
under any partitioning, so downstream cluster ids are stable for resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# distributed-loop round limit: min-label propagation with pointer jumping
# converges in O(log d) rounds, so hitting it means a bug, not a big graph
MAX_CC_ROUNDS = 50
# frontier fraction above which the distributed loop switches to classic
# all-nodes rounds (see _propagate): >90% of nodes still changing after the
# grace rounds means the frontier machinery is pure overhead on top of a
# full-graph round
_FRONTIER_SWITCH = 0.9


def _mem_bytes(s: str) -> int:
    """'12g' / '512m' / '1024k' / plain bytes -> bytes (JVM memory string)."""
    s = s.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def auto_driver_max_edges(spark: SparkSession) -> int:
    """Driver-CC cutoff derived from the actual driver heap instead of a
    fixed constant (VERDICT r3 #7): the collected edge frame costs ~16B/edge
    in numpy plus Arrow/pandas copies (~4x transient), and the driver must
    keep breathing room for Spark's own bookkeeping — budget 1/8 of the
    heap for the 64B/edge working set, i.e. edges <= heap_bytes / 512.
    12g (this repo's default) -> ~25M edges; a 64g production driver ->
    ~134M; never below 1M (the distributed loop's fixed multi-round cost
    always loses at that size)."""
    mem = spark.conf.get("spark.driver.memory", "4g")
    try:
        b = _mem_bytes(mem)
    except ValueError:
        b = 4 << 30
    return max(1_000_000, b // 512)


def connected_components(edges: DataFrame,
                         edge_count: int | None = None,
                         stats_out: dict | None = None) -> DataFrame:
    """edges(id_1, id_2) -> (id, component, _csize) for every node appearing
    in edges.

    component = min node id reachable (the canonical representative);
    ``_csize`` = component node count — free on the driver path (one
    bincount), one window shuffle on the distributed path (Catalyst prunes
    it when the caller never reads it). Downstream HAC gates its
    oversized-component split on ``_csize`` without re-deriving sizes in a
    separate groupBy+join job.

    Scale-adaptive (same spirit as AQE's runtime broadcast switch): up to
    `auto_driver_max_edges` (derived from the driver heap) the edge list
    fits trivially on the driver and a union-find there beats O(log d)
    Spark rounds of fixed job overhead (measured: 51s distributed vs ~8s on
    the driver for a 6.4M-edge graph at local[16]); above it, the
    distributed min-label loop (`_propagate`) runs. Both paths produce
    identical output.

    ``edge_count``: known row count of `edges` (e.g. from a checkpoint
    manifest) — skips the size-gate count job entirely.

    ``stats_out``: optional dict populated with facts this call learns for
    free: ``n_edges`` (always) and ``max_component_size`` (driver path only
    — one extra bincount next to the union-find). Downstream HAC uses them
    to skip its big-component existence probe and to size its grouped-map
    partition count; the distributed path leaves max_component_size unset
    (a global max there would be its own job, costing exactly what the
    skip saves).
    """
    # size gate as a parallel count, NOT limit(N+1).toPandas(): a global
    # limit executes as CollectLimit — the driver pulls partitions in
    # serial rounds, so the probe got SLOWER with more cores (measured
    # 0.6s at local[4] -> 2.9s at local[16] on a 400k-edge graph). Two
    # fully-parallel jobs (count, then Arrow collect) beat one
    # semi-serial one; when the pipeline checkpoints edges LAZILY, this
    # count is also the job that materializes the cache, and a manifest
    # row_count skips it altogether (edge_count).
    n_edges = edge_count if edge_count is not None else edges.count()
    if stats_out is not None:
        stats_out["n_edges"] = n_edges
    if n_edges <= auto_driver_max_edges(edges.sparkSession):
        probe = edges.select("id_1", "id_2").toPandas()
        return _driver_union_find_pdf(probe, edges.sparkSession, stats_out)
    bidir = (
        edges.select(F.col("id_1").alias("src"), F.col("id_2").alias("dst"))
        .union(edges.select(F.col("id_2").alias("src"), F.col("id_1").alias("dst")))
        .distinct()
        .localCheckpoint()   # edges are re-scanned every round: cut upstream DAG once
    )
    labels = (
        bidir.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    base_ckpts = [_checkpoint_rdd(bidir), _checkpoint_rdd(labels)]
    try:
        labels = _propagate(bidir, labels)
    finally:
        # converged labels are checkpoint-backed (and on the error path the
        # caller gets none) -> edge/init blocks are free-able; without the
        # finally, a non-convergence or mid-round failure strands two
        # full-graph-sized block sets in the long-lived session
        for c in base_ckpts:
            _free_rdd(c)
    return labels.select("id", F.col("comp").alias("component")).withColumn(
        "_csize", F.count(F.lit(1)).over(Window.partitionBy("component"))
    )

_PRIVATE_API_WARNED: set = set()


def _warn_private_api_fallback(which: str) -> None:
    """One-time (per process per site) warning when a private-Spark-API
    helper degrades to its fallback (ADVICE r5 #2): the fallbacks are
    correct but silently re-introduce the per-round cache leak
    (_checkpoint_rdd) or the size^(2^round) plan-stats explosion (_rebase)
    on deep iterative loops — a Spark upgrade that changes these internals
    should be LOUD, not a mystery slowdown."""
    if which not in _PRIVATE_API_WARNED:
        _PRIVATE_API_WARNED.add(which)
        import warnings

        warnings.warn(
            f"components.{which}: private Spark API unavailable; using the "
            f"slow-but-correct fallback (deep CC loops may leak caches / "
            f"accumulate plan stats). Likely a Spark version change.",
            RuntimeWarning,
            stacklevel=3,
        )


def _checkpoint_rdd(df: DataFrame):
    """JVM RDD backing a ``localCheckpoint()``-ed DataFrame (LogicalRDD.rdd)
    so the loop can free the PREVIOUS round's blocks as soon as
    the next round is materialized. Without this the rounds leak one full
    label-table cache each (nothing references it, but driver GC +
    ContextCleaner reclaim lazily) — measured: the 16M-edge chain bench
    OOMed a 12g heap at ~12 rounds x 16M labels x 4 paired runs. Same
    private-API caveat as similarity._broadcastable: on any failure return
    None and the loop degrades to the old GC-based cleanup, never wrong
    answers."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        _warn_private_api_fallback("_checkpoint_rdd")
        return None


def _free_rdd(jrdd) -> None:
    if jrdd is not None:
        try:
            jrdd.unpersist(False)
        except Exception:
            pass


def _rebase(df: DataFrame) -> DataFrame:
    """Rebuild a ``localCheckpoint()``-ed DataFrame over its materialized
    internal-row RDD, DROPPING the origin-plan statistics that Spark's
    checkpoint preserves (LogicalRDD.fromDataset keeps the origin
    ``sizeInBytes``). Without this, Catalyst's size-only estimator CHAINS
    the estimates across rounds — each round's join stats multiply the
    previous round's — so ``sizeInBytes`` grows as ~size^(2^round). By
    round ~13 of a high-diameter graph the BigInt has >100k digits and the
    driver spends MINUTES per round in BigInteger.multiplyToomCook3 inside
    plan-stats visits with every executor idle (observed: 535s of driver
    CPU on an 8M-edge chain graph while 16 executor threads parked). The
    rebuilt frame reports ``defaultSizeInBytes`` — constant per round, and
    no worse for planning: AQE's runtime broadcast switch uses ACTUAL
    shuffle sizes, which is what drives the frontier-join strategy anyway.
    Private-API caveat as `_checkpoint_rdd`: on any failure return the
    input unchanged (old behavior, correct but slow on deep loops)."""
    try:
        spark = df.sparkSession
        jdf = df._jdf
        jrdd = jdf.queryExecution().toRdd()
        jnew = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False)
        return DataFrame(jnew, spark)
    except Exception:
        _warn_private_api_fallback("_rebase")
        return df


def _propagate(bidir: DataFrame, labels: DataFrame) -> DataFrame:
    """Min-label rounds over bidir (src, dst) from (id, comp=id) labels to
    the converged (id, comp); each round body returns (id, comp, _chg).

    Rounds start in frontier form (`_frontier_round`): once most labels
    freeze, the per-round joins see a small build side that AQE turns into
    map-side joins (measured 1.33x over classic rounds on clique-shaped
    dedup graphs, BENCH/NOTES.md). On high-diameter graphs nearly every
    node changes every round and frontier rounds lose ~1.38x, so from round
    2 on a frontier still above ``_FRONTIER_SWITCH`` of all nodes switches
    the loop to `_classic_round` for good (same output: min-label
    propagation converges from any intermediate label state). The node
    count is taken only when that test first needs it.

    The change count is the one job per round: it materializes the lazy
    checkpoint, after which the previous round is freed and `_rebase`
    drops the chained plan stats. Labels only decrease, so the loop
    terminates; `MAX_CC_ROUNDS` is the assert-style backstop.
    """
    n_nodes = None
    frontier = True
    changed = labels            # round 0: everyone announces its own id
    prev_ckpt = None
    try:
        for rnd in range(MAX_CC_ROUNDS):
            upd = (_frontier_round(bidir, labels, changed, rnd == 0)
                   if frontier else _classic_round(bidir, labels))
            upd = upd.localCheckpoint(eager=False)
            n_changed = upd.where("_chg").count()
            _free_rdd(prev_ckpt)
            prev_ckpt = _checkpoint_rdd(upd)
            upd = _rebase(upd)
            labels = upd.select("id", "comp")
            if n_changed == 0:
                return labels
            if frontier:
                changed = upd.where("_chg").select("id", "comp")
                if rnd >= 2:
                    if n_nodes is None:
                        n_nodes = labels.count()    # invariant across rounds
                    frontier = n_changed <= _FRONTIER_SWITCH * n_nodes
    except BaseException:
        # mid-round failure: the last materialized round would otherwise
        # stay cached in the session (the caller never sees it)
        _free_rdd(prev_ckpt)
        raise
    _free_rdd(prev_ckpt)
    raise RuntimeError(
        f"connected_components did not converge in {MAX_CC_ROUNDS} rounds")


def _frontier_round(bidir: DataFrame, labels: DataFrame, changed: DataFrame,
                    first: bool) -> DataFrame:
    """One frontier round -> (id, comp, _chg). `changed` = the (id, comp)
    rows whose label changed last round; a node can improve two ways, both
    sourced from it:
    - neighbor offer: u changed -> u's new label is offered to every
      neighbor of u (the first round the frontier is ALL nodes, so every
      node's initial label is offered once — the classic first round);
    - pointer jump:   u changed -> every v with comp(v) == u adopts u's new
      label (path compression along the label pointer).

    Fixpoint argument: every label change re-broadcasts, so when the
    frontier empties, label(v) <= label(u) holds across every edge in both
    directions => labels are constant per component; own-id offers make the
    constant the component min.
    """
    offers = bidir.join(
        changed.withColumnRenamed("id", "dst"), "dst"
    ).select(F.col("src").alias("id"), "comp")
    # the first round's pointer jump is skipped: every pointer is still the
    # identity, so it would be a full-size self-join producing no-ops
    if not first:
        jumps = labels.select("id", F.col("comp").alias("_ptr")).join(
            changed.select(F.col("id").alias("_ptr"), "comp"), "_ptr"
        ).select("id", "comp")
        offers = offers.unionByName(jumps)
    cand = offers.groupBy("id").agg(F.min("comp").alias("_new"))
    return labels.join(cand, "id", "left").select(
        "id",
        F.least(F.col("comp"), F.coalesce("_new", "comp")).alias("comp"),
        (F.coalesce("_new", "comp") < F.col("comp")).alias("_chg"),
    )


def _classic_round(bidir: DataFrame, labels: DataFrame) -> DataFrame:
    """One all-nodes round -> (id, comp, _chg): every node re-aggregates
    (the high-diameter regime `_propagate` switches to)."""
    # 1. neighbor-min: every node adopts min(comp) over itself + neighbors.
    # The node's OWN previous label rides along (own=true) so the change
    # flag falls out of the same aggregation — no join-with-old-labels
    # probe job per round.
    neighbor_labels = bidir.join(
        labels.withColumnRenamed("id", "dst"), "dst"
    ).select(F.col("src").alias("id"), "comp")
    tagged = labels.select(
        "id", "comp", F.lit(True).alias("own")
    ).unionByName(neighbor_labels.withColumn("own", F.lit(False)))
    merged = tagged.groupBy("id").agg(
        F.min("comp").alias("comp"),
        # every id has exactly one own=true row (its previous label)
        F.max(F.when(F.col("own"), F.col("comp"))).alias("old"),
    )
    # 2. pointer jumping: comp(v) <- comp(comp(v)) — halves chain depth
    jump = merged.select(F.col("id").alias("comp"), F.col("comp").alias("comp2"))
    return merged.join(jump, "comp", "left").select(
        "id",
        F.coalesce("comp2", "comp").alias("comp"),
        (F.coalesce("comp2", "comp") != F.col("old")).alias("_chg"),
    )


def _driver_union_find_pdf(pdf, spark, stats_out: dict | None = None) -> DataFrame:
    """Vectorized min-label propagation with pointer jumping (numpy).

    Replaces the round-1 Python dict union-find: the per-edge interpreter
    loop was ~3s of pure SERIAL time at 400k edges — the single largest
    Amdahl term in the 4->16 scaling gap. Converges in O(log d) rounds of
    whole-array ops (~ms each); result identical (component = min reachable
    id). The result ships back via an Arrow pandas frame, not a 400k-tuple
    createDataFrame (row-by-row pickling was the other serial sink).
    """
    import numpy as np
    import pandas as pd

    if not len(pdf):
        if stats_out is not None:
            stats_out["max_component_size"] = 0
        return spark.createDataFrame([], "id long, component long, _csize long")
    e1 = pdf["id_1"].to_numpy(dtype=np.int64)
    e2 = pdf["id_2"].to_numpy(dtype=np.int64)
    ids = np.unique(np.concatenate([e1, e2]))
    a = np.searchsorted(ids, e1)
    b = np.searchsorted(ids, e2)
    # labels are INDICES into ids; ids is sorted, so min index == min id
    labels = np.arange(ids.shape[0], dtype=np.int64)
    while True:
        nxt = labels.copy()
        np.minimum.at(nxt, a, labels[b])
        np.minimum.at(nxt, b, labels[a])
        nxt = nxt[nxt]                  # pointer jumping halves chain depth
        if np.array_equal(nxt, labels):
            break
        labels = nxt
    out = pd.DataFrame({"id": ids, "component": ids[labels]})
    counts = np.bincount(labels, minlength=ids.shape[0])
    out["_csize"] = counts[labels].astype(np.int64)
    if stats_out is not None:
        stats_out["max_component_size"] = int(counts.max())
    return spark.createDataFrame(out)
