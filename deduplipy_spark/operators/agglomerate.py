"""Per-component hierarchical agglomerative clustering (grouped-map UDF).

Numpy-only re-implementation of the reference clustering stage
(``deduplipy/clustering/clustering.py:38-53``): per connected component,
build the dense adjacency from scored pairs, optionally SoftImpute missing
edges (``fill_missing_edges.py:8-35``), run CENTROID-linkage agglomeration on
``distance = (1 - I) - adjacency`` and cut the dendrogram at
``1 - cluster_threshold`` — semantics matched to ``scipy.hierarchy.linkage
(method='centroid')`` + ``fcluster(criterion='distance')`` (scipy is absent
in this env; goldens from the reference's fixtures pass, see
tests/test_clustering.py).

Distribution shape: ``scored_pairs ⋈ components`` → ``groupBy(component).
applyInPandas`` — one Arrow batch per component, embarrassingly parallel.
Components larger than ``max_hac_size`` (dense n² matrices don't scale past
a few thousand nodes) are first split PACk-style (Monath et al., VLDB'22):
connected components over their edges at or above ``cluster_threshold``,
then the same exact HAC per sub-component. Only sub-components still above
``max_hac_size`` collapse to a single cluster, flagged ``capped`` — never
silent (`cluster_components`).

Cluster ids are ``min(file_id)`` within each flat cluster: deterministic,
globally unique (vs the reference's order-dependent running counter,
``clustering.py:52-53`` — SURVEY §1.3.5 mandates partition-level equality,
not label equality).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig

# SoftImpute stopping rule: relative RMSE change of the imputed entries
# (reference ``deduplipy/config.py:4``)
SOFTIMPUTE_CONVERGENCE = 0.01

# ---------------------------------------------------------------------------
# numpy SoftImpute (re-derivation of the SoftImpute algorithm of Mazumder,
# Hastie & Tibshirani (JMLR 2010), matching fancyimpute's defaults used by the
# reference: shrinkage = max_sv/50, mean init-fill, clip [0,1], relative-RMSE
# convergence on the missing entries)
# ---------------------------------------------------------------------------


def soft_impute(X: np.ndarray,
                convergence_threshold: float = SOFTIMPUTE_CONVERGENCE,
                max_iters: int = 100) -> np.ndarray:
    missing = np.isnan(X)
    if not missing.any():
        return X
    col_means = np.nanmean(X, axis=0)
    col_means = np.nan_to_num(col_means, nan=0.0)
    X_filled = X.copy()
    X_filled[missing] = np.broadcast_to(col_means, X.shape)[missing]
    for _ in range(max_iters):
        U, s, Vt = np.linalg.svd(X_filled, full_matrices=False)
        shrink = s.max() / 50.0
        s_thresh = np.maximum(s - shrink, 0.0)
        X_rec = (U * s_thresh) @ Vt
        X_rec = np.clip(X_rec, 0.0, 1.0)
        old_missing = X_filled[missing]
        new_missing = X_rec[missing]
        denom = np.sqrt((old_missing ** 2).sum())
        rmse = np.sqrt(((old_missing - new_missing) ** 2).sum()) / max(denom, 1e-12)
        X_filled[missing] = new_missing
        if rmse < convergence_threshold:
            break
    return X_filled


def fill_missing_links(
    matrix: np.ndarray, convergence_threshold: float = SOFTIMPUTE_CONVERGENCE,
) -> np.ndarray:
    """Reference semantics (fill_missing_edges.py:8-35): 0s are 'missing'."""
    m = matrix.astype(float).copy()
    np.fill_diagonal(m, 1.0)
    m[m == 0] = np.nan
    if not np.isnan(m).any():
        return matrix
    m = soft_impute(m, convergence_threshold)
    np.fill_diagonal(m, 0.0)
    return np.tril(m) + np.triu(m.T, 1)


# ---------------------------------------------------------------------------
# centroid-linkage HAC on a distance matrix (Lance-Williams recurrence on
# squared distances, as scipy.hierarchy.linkage(method='centroid') computes)
# ---------------------------------------------------------------------------


def centroid_linkage(dist: np.ndarray) -> list[tuple[int, int, float, int]]:
    """Return merge list [(a, b, height, new_size)]; a,b index clusters
    (0..n-1 = leaves, n+i = i-th merge), heights may be non-monotonic."""
    n = dist.shape[0]
    D2 = dist.astype(float) ** 2
    np.fill_diagonal(D2, np.inf)
    active = {i: (i, 1) for i in range(n)}   # slot -> (cluster id, size)
    merges: list[tuple[int, int, float, int]] = []
    next_id = n
    slots = list(range(n))
    for _ in range(n - 1):
        # global-min pair among active slots (ties -> lowest slot pair, as a
        # deterministic stand-in for scipy's scan order)
        sub = D2[np.ix_(slots, slots)]
        flat = np.argmin(sub)
        ii, jj = divmod(flat, len(slots))
        if ii > jj:
            ii, jj = jj, ii
        si, sj = slots[ii], slots[jj]
        ci, ni = active[si]
        cj, nj = active[sj]
        # clamp: float error in the LW recurrence can leave D2 slightly
        # negative; sqrt would yield NaN heights, which cut_merges treats as
        # above-threshold (silent over-split)
        h = float(np.sqrt(max(D2[si, sj], 0.0)))
        # Lance-Williams centroid update into slot si (vectorized over slots)
        others = np.array([sk for sk in slots if sk not in (si, sj)], dtype=int)
        if others.size:
            d2 = (ni * D2[si, others] + nj * D2[sj, others]) / (ni + nj) - (
                ni * nj * D2[si, sj]
            ) / (ni + nj) ** 2
            np.maximum(d2, 0.0, out=d2)
            D2[si, others] = d2
            D2[others, si] = d2
        merges.append((ci, cj, h, ni + nj))
        active[si] = (next_id, ni + nj)
        next_id += 1
        slots.remove(sj)
    return merges


def cut_merges(merges: list[tuple[int, int, float, int]], n: int, t: float) -> np.ndarray:
    """fcluster(criterion='distance')-style cut: observations whose subtree's
    max merge height <= t share a flat cluster. Returns labels 0..k-1."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # effective height of a merge = max merge height in its subtree (this is
    # how the distance criterion behaves on non-monotonic centroid trees).
    # It is never below either child's, so when a merge passes the cut both
    # subtrees were already united: joining one leaf of each (rep) suffices.
    eff = [0.0] * n
    rep = list(range(n))
    for a, b, h, _ in merges:
        e = max(h, eff[a], eff[b])
        eff.append(e)
        rep.append(rep[a])
        if e <= t:
            parent[find(rep[b])] = find(rep[a])
    labels = np.array([find(i) for i in range(n)])
    _, out = np.unique(labels, return_inverse=True)
    return out


def hierarchical_cluster_component(
    node_ids: np.ndarray,
    edges,
    cluster_threshold: float,
    fill_missing: bool,
) -> np.ndarray:
    """Cluster one component; returns per-node cluster label = min node id.

    ``edges`` is an (id_1, id_2, score) triple of numpy arrays: dedup graphs
    have millions of tiny components, and per-group pandas
    indexing/itertuples was ~70% of the grouped-map HAC's profile.
    ``node_ids`` must be sorted ascending (np.unique output).
    """
    e1, e2, sc = edges
    n = len(node_ids)
    if n == 1:
        return node_ids.copy()
    if n == 2:
        # exact shortcut: one pair, distance = 1 - score, cut at 1 - t
        s = float(sc[0]) if sc.shape[0] else 0.0
        if (1.0 - s) <= (1.0 - cluster_threshold):
            return np.array([node_ids.min(), node_ids.min()])
        return node_ids.copy()
    # node_ids is sorted: positions via searchsorted, adjacency via one
    # vectorized scatter per direction
    a = np.searchsorted(node_ids, e1)
    b = np.searchsorted(node_ids, e2)
    adjacency = np.zeros((n, n))
    adjacency[a, b] = sc
    adjacency[b, a] = sc
    if fill_missing:
        adjacency = fill_missing_links(adjacency)
    distances = (np.ones_like(adjacency) - np.eye(n)) - adjacency
    merges = centroid_linkage(distances)
    labels = cut_merges(merges, n, 1.0 - cluster_threshold)
    out = np.empty(n, dtype=np.int64)
    for lab in np.unique(labels):
        mask = labels == lab
        out[mask] = node_ids[mask].min()
    return out


def _agglomerate_grouped(edges: DataFrame, cfg: EngineConfig,
                         n_edges: int | None = None) -> DataFrame:
    """Grouped HAC over (id_1, id_2, score, group, component) edges.

    mapInPandas over group-partitioned data, grouping INSIDE the batch:
    dedup graphs have millions of TINY components, and per-group Arrow
    exchanges (applyInPandas) cost more than the numpy work — one pandas
    groupby per partition is ~3x cheaper. Batches of one partition are
    concatenated first (a group never spans partitions, but Arrow may
    split a partition into several batches).
    """
    cluster_threshold = cfg.cluster_threshold
    fill_missing = cfg.fill_missing
    max_size = cfg.max_hac_size

    # Explicit repartition by group: the edge table is small in BYTES
    # (AQE would coalesce it to ~1 post-shuffle partition) but large in
    # PYTHON WORK (one numpy HAC per group) — user-specified numPartitions
    # is exempt from AQE coalescing, so every core gets groups. Measured:
    # 40s -> ~2s on 10k components at 32 cores.
    # When the caller knows the edge count (the CC size-gate already
    # counted it), size the partition count to the data instead of the
    # constant 2 waves: a few-thousand-edge graph on 64 python tasks pays
    # ~64 Arrow round trips for microseconds of numpy each (r6; guide §2
    # scale-adaptive partitioning). Conservative 1000 edges/task floor —
    # HAC is O(n^3) per component, so tasks stay small, and the cap is
    # unchanged at 2 waves of the cores for big graphs.
    cores2 = edges.sparkSession.sparkContext.defaultParallelism * 2
    if n_edges is None:
        n_parts = cores2
    else:
        n_parts = max(1, min(cores2, -(-int(n_edges) // 1000)))
    edges = edges.repartition(n_parts, "group")

    def agglomerate_partition(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        # group boundaries on raw numpy (stable sort by group): per-group
        # pandas groupby/indexing overhead dominated the numpy HAC itself
        # on million-of-tiny-components graphs (profiled ~70% of the stage)
        g = pdf["group"].to_numpy(dtype=np.int64)
        order = np.argsort(g, kind="stable")
        e1 = pdf["id_1"].to_numpy(dtype=np.int64)[order]
        e2 = pdf["id_2"].to_numpy(dtype=np.int64)[order]
        sc = pdf["score"].to_numpy(dtype=np.float64)[order]
        comp = pdf["component"].to_numpy(dtype=np.int64)[order]
        gs = g[order]
        cuts = np.flatnonzero(gs[1:] != gs[:-1]) + 1
        bounds = np.concatenate(([0], cuts, [gs.shape[0]]))
        ids_out, lab_out, comp_out, cap_out = [], [], [], []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            s1, s2, ss = e1[lo:hi], e2[lo:hi], sc[lo:hi]
            node_ids = np.unique(np.concatenate([s1, s2]))
            capped = len(node_ids) > max_size
            if capped:
                labels = np.full(len(node_ids), node_ids.min(), dtype=np.int64)
            else:
                labels = hierarchical_cluster_component(
                    node_ids, (s1, s2, ss), cluster_threshold, fill_missing)
            ids_out.append(node_ids)
            lab_out.append(labels)
            comp_out.append(np.full(len(node_ids), comp[lo], dtype=np.int64))
            cap_out.append(np.full(len(node_ids), capped, dtype=bool))
        if ids_out:
            yield pd.DataFrame(
                {
                    "id": np.concatenate(ids_out),
                    "cluster_id": np.concatenate(lab_out),
                    "component": np.concatenate(comp_out),
                    "capped": np.concatenate(cap_out),
                }
            )

    return edges.mapInPandas(
        agglomerate_partition,
        "id long, cluster_id long, component long, capped boolean",
    )


def cluster_components(
    scored: DataFrame, components: DataFrame, cfg: EngineConfig,
    max_component_size: int | None = None,
    n_edges: int | None = None,
) -> DataFrame:
    """(id, cluster_id, component, capped) per node of every scored component.

    `scored` = (id_1, id_2, score); `components` = (id, component, _csize)
    from ``connected_components``. Both are consumed more than once here,
    so the caller passes them already cut (``DedupPipeline.cluster`` does).

    ``max_component_size``: the largest component's node count when the
    caller already knows it (connected_components' driver path computes it
    for free). When it proves every component fits ``max_hac_size``, the
    whole big-component branch — including its driver-side isEmpty probe
    job and the planning of the sub-split dataflow — is skipped outright
    (guide §7.3: fewer driver barriers). ``None`` keeps the probe.

    ``n_edges``: known scored-edge count (the CC size gate counts it
    anyway) — sizes the grouped-map partition count to the data instead
    of a constant two waves (see _agglomerate_grouped). ``None`` keeps
    the constant.

    Components up to ``max_hac_size`` get exact per-component HAC in one
    grouped-map batch. LARGER components (round-1 behavior: one-cluster
    short-circuit, which over-merges) now take a PACk-style partition-then-
    agglomerate path (Monath et al., VLDB'22 — partitioned agglomerative
    clustering): prune to edges with ``score >= cluster_threshold``
    (a merge across only weaker edges could not survive the dendrogram cut
    anyway), split into sub-components via connected components, then run
    the SAME exact HAC per sub-component on its induced edge set. Sub-
    components still above the cap short-circuit with ``capped=True`` —
    observable, never silent; nodes of a big component with no strong edge
    become singleton clusters.
    """
    all_small = (max_component_size is not None
                 and max_component_size <= cfg.max_hac_size)
    small = components if all_small else components.where(
        F.col("_csize") <= cfg.max_hac_size)
    edges_small = (
        scored.join(
            small.select(F.col("id").alias("id_1"), "component"), "id_1"
        )
        .select("id_1", "id_2", "score", "component",
                F.col("component").alias("group"))
    )
    out = _agglomerate_grouped(edges_small, cfg, n_edges=n_edges)
    if all_small:
        return out

    big = components.where(
        F.col("_csize") > cfg.max_hac_size).select("id", "component")
    # cheap probe: big components are rare; skip the whole sub-path when
    # none exist (a limit-1 scan of the already-materialized components)
    if big.isEmpty():
        return out

    from deduplipy_spark.operators.components import connected_components
    from deduplipy_spark.operators.pairs import with_pair_sides

    edges_big = scored.join(
        big.select(F.col("id").alias("id_1"), "component"), "id_1")
    strong = edges_big.where(F.col("score") >= cfg.cluster_threshold)
    sub = connected_components(strong.select("id_1", "id_2")).select(
        F.col("id"), F.col("component").alias("_sub"))
    induced = (
        with_pair_sides(edges_big, sub, ["_sub"], "id")
        .where(F.col("_sub_1") == F.col("_sub_2"))
        .select("id_1", "id_2", "score", "component",
                F.col("_sub_1").alias("group"))
    )
    out_big = _agglomerate_grouped(induced, cfg)
    # big-component nodes with no strong edge: singleton clusters
    lonely = (
        big.join(sub.select("id"), "id", "left_anti")
        .select(
            "id",
            F.col("id").alias("cluster_id"),
            "component",
            F.lit(False).alias("capped"),
        )
    )
    return out.unionByName(out_big).unionByName(lonely)
