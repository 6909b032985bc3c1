"""Clustering goldens from the reference, replayed through our numpy HAC and
the Spark mapInPandas path.

- F2: tests/test_clustering/clustering_fixture.csv → partitions {0,1},{2},{3},{4}
  at cluster_threshold=0.5 and {0,1},{2,3},{4} at 0.4
  (reference asserts labels [1,1,2,3,4] / [1,1,2,2,3]; we compare partitions,
  SURVEY §1.3.5)
- F3: fill_missing_links 3x3 golden + no-op case
- connected components vs networkx on random graphs
"""

import numpy as np
import pandas as pd
import pytest

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.operators.agglomerate import (
    cluster_components,
    fill_missing_links,
    hierarchical_cluster_component,
)
from deduplipy_spark.operators import components as C
from deduplipy_spark.operators.components import connected_components

FIXTURE = pd.DataFrame(
    [(0, 1, 0.90), (0, 2, 0.10), (0, 3, 0.10), (0, 4, 0.10), (1, 2, 0.10),
     (1, 3, 0.10), (1, 4, 0.10), (2, 3, 0.40), (2, 4, 0.10), (3, 4, 0.10)],
    columns=["id_1", "id_2", "score"],
)
FIXTURE_EDGES = tuple(FIXTURE[c].to_numpy() for c in ("id_1", "id_2", "score"))


def _distributed(monkeypatch, switch):
    """Force connected_components onto the distributed loop (cutoff 0) at
    frontier-switch fraction `switch`: 2.0 never leaves frontier rounds,
    -1.0 switches to classic rounds at round 2."""
    monkeypatch.setattr(C, "auto_driver_max_edges", lambda s: 0)
    monkeypatch.setattr(C, "_FRONTIER_SWITCH", switch)


def partitions(ids, labels):
    groups = {}
    for i, l in zip(ids, labels):
        groups.setdefault(l, set()).add(i)
    return sorted(map(frozenset, groups.values()), key=lambda s: min(s))


def test_clustering_golden_threshold_05():
    labels = hierarchical_cluster_component(
        np.arange(5), FIXTURE_EDGES, cluster_threshold=0.5, fill_missing=True
    )
    assert partitions(range(5), labels) == [
        frozenset({0, 1}), frozenset({2}), frozenset({3}), frozenset({4})
    ]


def test_clustering_golden_threshold_04():
    labels = hierarchical_cluster_component(
        np.arange(5), FIXTURE_EDGES, cluster_threshold=0.4, fill_missing=True
    )
    assert partitions(range(5), labels) == [
        frozenset({0, 1}), frozenset({2, 3}), frozenset({4})
    ]


def test_fill_missing_links_golden():
    matrix = np.asarray([[0, 0.8, 0], [0.8, 0, 0.8], [0, 0.8, 0]])
    res = fill_missing_links(matrix, convergence_threshold=0.01)
    expected = np.array([[0.0, 0.8, 0.9], [0.8, 0.0, 0.8], [0.9, 0.8, 0.0]])
    np.testing.assert_almost_equal(res, expected, decimal=2)


def test_fill_missing_links_no_missing_noop():
    matrix = np.asarray([[0, 0.8, 0.8], [0.8, 0, 0.8], [0.8, 0.8, 0]])
    res = fill_missing_links(matrix, convergence_threshold=0.01)
    np.testing.assert_almost_equal(res, matrix, decimal=2)


def test_connected_components_vs_networkx(spark, monkeypatch):
    import networkx as nx
    import random

    rng = random.Random(13)
    edges = set()
    for _ in range(400):
        a, b = rng.randrange(300), rng.randrange(300)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    # plus a long path (worst case for plain propagation)
    for i in range(1000, 1060):
        edges.add((i, i + 1))
    edf = spark.createDataFrame(sorted(edges), "id_1 long, id_2 long")
    g = nx.Graph()
    g.add_edges_from(edges)
    want = {}
    for comp in nx.connected_components(g):
        rep = min(comp)
        for v in comp:
            want[v] = rep
    # exercise every path: the driver union-find, the distributed loop at
    # its shipped switch, and with the switch to classic rounds forced
    got_driver = connected_components(edf).toPandas()
    assert dict(zip(got_driver.id, got_driver.component)) == want
    for switch in (C._FRONTIER_SWITCH, -1.0):
        _distributed(monkeypatch, switch)
        got = connected_components(edf).toPandas()
        assert dict(zip(got.id, got.component)) == want, switch


def test_adaptive_frontier_handoff_on_chains(spark, monkeypatch):
    """r6: on a high-diameter graph the frontier loop's change fraction
    stays ~1.0, so after the grace rounds it must switch to classic
    rounds (_FRONTIER_SWITCH) and still converge to exactly the right
    labels. Pure chains guarantee the switch happens (every node keeps
    changing until its chain converges)."""
    rows = []
    for c in range(3):
        base = c * 1000
        rows += [(base + i, base + i + 1) for i in range(200)]
    edf = spark.createDataFrame(rows, "id_1 long, id_2 long")
    _distributed(monkeypatch, C._FRONTIER_SWITCH)
    classic = []
    orig = C._classic_round

    def counted(*a):
        classic.append(1)
        return orig(*a)

    monkeypatch.setattr(C, "_classic_round", counted)
    got = connected_components(edf).toPandas()
    assert classic, "the loop never switched to classic rounds"
    assert len(got) == 3 * 201
    assert (got.component == (got.id // 1000) * 1000).all()


def test_frontier_rounds_count_nodes_only_for_handoff(spark, monkeypatch):
    """The node count feeds only the switch test from round 2 on: a graph
    that converges by round 2 must not pay that driver job."""
    # a star converges in round 1, the 3-chain in round 2
    rows = [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12)]
    bidir = spark.createDataFrame(rows + [(b, a) for a, b in rows],
                                  "src long, dst long")
    labels = bidir.selectExpr("src as id").distinct().selectExpr("id", "id as comp")
    frame_cls = type(labels)        # the class that implements count()
    real_count = frame_cls.count

    def count(df):
        # the change counts run on (id, comp, _chg); the node count on labels
        if df.columns == ["id", "comp"]:
            raise AssertionError("node count on a graph converged by round 2")
        return real_count(df)

    monkeypatch.setattr(frame_cls, "count", count)
    got = C._propagate(bidir, labels).toPandas()
    assert dict(zip(got.id, got.comp)) == {
        **{i: 0 for i in range(6)}, 10: 10, 11: 10, 12: 10}


def test_cluster_components_spark_matches_local(spark):
    cfg = EngineConfig(cluster_threshold=0.5)
    scored = spark.createDataFrame(FIXTURE, "id_1 long, id_2 long, score double")
    comps = connected_components(scored)
    out = cluster_components(scored, comps, cfg).toPandas().sort_values("id")
    assert partitions(out.id, out.cluster_id) == [
        frozenset({0, 1}), frozenset({2}), frozenset({3}), frozenset({4})
    ]
    assert not out.capped.any()
    # cluster id is min member id
    assert out.set_index("id").cluster_id.loc[1] == 0


def test_pack_style_split_of_oversized_component(spark):
    """VERDICT r1 #8: components above max_hac_size are partitioned at the
    cluster-threshold edge level and agglomerated per sub-component (PACk-
    style), instead of collapsing to one over-merged cluster.

    Planted: 50 strong 100-node cliques (score .9) daisy-chained by weak
    .15 edges into ONE 5000-node component. The old short-circuit yields 1
    cluster (precision ~0.02); the split path must recover all 50 exactly.
    """
    cfg = EngineConfig(max_hac_size=2000, cluster_threshold=0.5,
                       fill_missing=False)
    n_clusters, size = 50, 100
    rows = []
    for c in range(n_clusters):
        base = c * size
        rows += [(base + i, base + j, 0.9)
                 for i in range(size) for j in range(i + 1, size)]
        if c:                               # weak bridge to previous clique
            rows.append((base - 1, base, 0.15))
    scored = spark.createDataFrame(rows, "id_1 long, id_2 long, score double")
    comps = connected_components(scored)
    assert comps.select("component").distinct().count() == 1   # one giant comp
    out = cluster_components(scored, comps, cfg).toPandas()
    assert len(out) == n_clusters * size
    assert not out.capped.any()
    got = partitions(out.id, out.cluster_id)
    want = [frozenset(range(c * size, (c + 1) * size)) for c in range(n_clusters)]
    assert sorted(got, key=min) == want
    # sub-components still above the cap stay observable, not silent:
    cfg_tiny = EngineConfig(max_hac_size=60, cluster_threshold=0.5,
                            fill_missing=False)
    out2 = cluster_components(scored, comps, cfg_tiny).toPandas()
    assert out2.capped.all()                # every 100-clique > 60 -> capped
    assert len(partitions(out2.id, out2.cluster_id)) == n_clusters


def test_pack_split_keeps_weak_only_nodes_as_singletons(spark):
    cfg = EngineConfig(max_hac_size=4, cluster_threshold=0.5,
                       fill_missing=False)
    # 5-node component: strong triangle {0,1,2}; 3 and 4 attached weakly
    rows = [(0, 1, 0.9), (1, 2, 0.9), (0, 2, 0.9), (2, 3, 0.2), (3, 4, 0.2)]
    scored = spark.createDataFrame(rows, "id_1 long, id_2 long, score double")
    comps = connected_components(scored)
    out = cluster_components(scored, comps, cfg).toPandas().set_index("id")
    assert out.cluster_id.loc[[0, 1, 2]].nunique() == 1
    assert out.cluster_id.loc[3] == 3 and out.cluster_id.loc[4] == 4


def test_known_oversized_component_skips_the_probe(spark, monkeypatch):
    """A driver-known max_component_size above max_hac_size already proves
    a big component exists: the PACk branch runs without the isEmpty
    probe job, with the same result."""
    cfg = EngineConfig(max_hac_size=4, cluster_threshold=0.5,
                       fill_missing=False)
    rows = [(0, 1, 0.9), (1, 2, 0.9), (0, 2, 0.9), (2, 3, 0.2), (3, 4, 0.2)]
    scored = spark.createDataFrame(rows, "id_1 long, id_2 long, score double")
    stats: dict = {}
    comps = connected_components(scored, stats_out=stats)
    assert stats["max_component_size"] == 5

    def probe(self):
        raise AssertionError("isEmpty probe ran")

    monkeypatch.setattr(type(comps), "isEmpty", probe)   # classic DataFrame
    out = cluster_components(
        scored, comps, cfg, max_component_size=stats["max_component_size"],
    ).toPandas().set_index("id")
    assert out.cluster_id.loc[[0, 1, 2]].nunique() == 1
    assert out.cluster_id.loc[3] == 3 and out.cluster_id.loc[4] == 4


def _ladder(base: int, size: int, score: float = 0.9):
    """Connected `size`-node component, ~3 edges per node."""
    return [(base + i, base + j, score) for i in range(size)
            for j in range(i + 1, min(i + 4, size))]


def test_driver_cc_places_hac_largest_first(spark):
    """Driver-CC placement: the three largest components that fit
    max_hac_size (400/380/360 nodes) land on distinct HAC slots, there are
    never more slots than such components, and every HAC partition holds
    one. A 600-node component above max_hac_size takes no slot: it goes
    through the PACk split instead."""
    from pyspark.sql import functions as F

    cfg = EngineConfig(cluster_threshold=0.5, fill_missing=False,
                       max_hac_size=500)
    big = [0, 10_000, 20_000]
    rows = (_ladder(big[0], 400) + _ladder(big[1], 380)
            + _ladder(big[2], 360))
    small = [(30_000 + 10 * k, 30_000 + 10 * k + 1, 0.9) for k in range(12)]
    small += _ladder(40_000, 3) + _ladder(40_010, 3)
    huge = _ladder(50_000, 600)
    for edges, n_fit, n_over in ((rows, 3, 0), (rows + small, 17, 0),
                                 (rows + small + huge, 17, 1)):
        scored = spark.createDataFrame(
            edges, "id_1 long, id_2 long, score double")
        stats: dict = {}
        comps = connected_components(
            scored, stats_out=stats, max_hac_size=cfg.max_hac_size,
        ).toPandas()
        n_slots = stats["hac_slots"]
        assert comps.component.nunique() == n_fit + n_over
        assert n_slots == min(-(-len(edges) // 1000), n_fit)
        slot_of = comps.groupby("component")._slot.first()
        assert slot_of.loc[big].nunique() == 3
        assert slot_of.between(0, n_slots - 1).all()
        out = cluster_components(
            scored, spark.createDataFrame(comps), cfg,
            max_component_size=stats["max_component_size"],
            n_slots=n_slots,
        ).withColumn("p", F.spark_partition_id()).toPandas()
        assert len(out) == len(comps)
        fit = out[out.component != 50_000]     # the grouped HAC's rows
        per_part = fit.groupby("p").component.nunique()
        assert sorted(per_part.index) == list(range(n_slots))  # none empty
        assert out[out.component.isin(big)].groupby(
            "component").p.first().nunique() == 3


def test_component_size_cap(spark):
    cfg = EngineConfig(max_hac_size=5)
    # a 10-node clique -> capped, single cluster
    rows = [(i, j, 0.9) for i in range(10) for j in range(i + 1, 10)]
    scored = spark.createDataFrame(rows, "id_1 long, id_2 long, score double")
    comps = connected_components(scored)
    out = cluster_components(scored, comps, cfg).toPandas()
    assert out.capped.all()
    assert (out.cluster_id == 0).all()


def test_auto_driver_max_edges_scales_with_heap():
    """VERDICT r3 #7: the driver-CC cutoff derives from the driver heap
    (edges <= heap/512, floor 1M) instead of a fixed constant."""
    assert C._mem_bytes("12g") == 12 << 30
    assert C._mem_bytes("512m") == 512 << 20
    assert C._mem_bytes("1024k") == 1 << 20
    assert C._mem_bytes("123") == 123

    class FakeSpark:
        class conf:
            @staticmethod
            def get(key, default=None):
                return FakeSpark._mem

    FakeSpark._mem = "100g"
    assert C.auto_driver_max_edges(FakeSpark()) == (100 << 30) // 512
    FakeSpark._mem = "64m"          # tiny heap -> floor, never below 1M
    assert C.auto_driver_max_edges(FakeSpark()) == 1_000_000
    FakeSpark._mem = "not-a-size"   # unparseable -> 4g fallback
    assert C.auto_driver_max_edges(FakeSpark()) == (4 << 30) // 512


def test_small_heap_engages_distributed_cc(spark, monkeypatch):
    """The cutoff comes from auto_driver_max_edges: with a (simulated) tiny
    heap the driver union-find must NOT run — the distributed min-label
    loop produces the components."""
    monkeypatch.setattr(C, "auto_driver_max_edges", lambda s: 1)

    def boom(*a, **kw):
        raise AssertionError("driver union-find ran despite tiny heap")

    monkeypatch.setattr(C, "_driver_union_find_pdf", boom)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_1 long, id_2 long")
    out = {r.id: r.component
           for r in C.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_default_driver_max_edges_is_heap_derived(spark, monkeypatch):
    """VERDICT r4 #4: the cutoff is heap-derived on every call, so a
    standalone caller (no EngineConfig) gets auto_driver_max_edges too,
    not a stale literal."""
    calls = []

    def fake_auto(s):
        calls.append(1)
        return 10**9

    monkeypatch.setattr(C, "auto_driver_max_edges", fake_auto)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_1 long, id_2 long")
    out = {r.id: r.component
           for r in C.connected_components(edges).collect()}
    assert calls, "default did not resolve via auto_driver_max_edges"
    assert out == {1: 1, 2: 1, 3: 1}


def test_distributed_rounds_keep_plan_stats_bounded(spark, monkeypatch):
    """Catalyst preserves origin-plan STATISTICS through localCheckpoint,
    so per-round checkpoints chain the size estimates multiplicatively
    (~size^(2^round)) — on ~14-round graphs the driver then burns minutes
    per round multiplying >100k-digit BigIntegers inside stats visits
    (BENCH/NOTES.md round 5). _rebase must keep the final labels' estimate
    at a bounded magnitude no matter how many rounds ran."""
    # 4 chains x 33 nodes: needs ~6 doubling rounds — enough that an
    # unbounded estimate chain would exceed the threshold below by orders
    # of magnitude (the probe measured ~3 digits/round growth minimum)
    rows = [(c * 64 + i, c * 64 + i + 1) for c in range(4) for i in range(32)]
    edges = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id_1", "id_2"]))
    want = {c * 64 + i: c * 64 for c in range(4) for i in range(33)}
    # frontier-only, and switched to classic rounds at round 2: at the
    # shipped switch both would run the same rounds on these chains
    for name, switch in (("frontier", 2.0), ("classic", -1.0)):
        _distributed(monkeypatch, switch)
        out = connected_components(edges)
        got = {r[0]: r[1] for r in out.collect()}    # (id, component, _csize)
        assert got == want, name
        size = int(
            out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        # bounded: a handful of defaultSizeInBytes (~9.2e18) factors at
        # most — the unbounded chain reaches hundreds of digits here
        assert len(str(size)) < 60, (name, len(str(size)))
