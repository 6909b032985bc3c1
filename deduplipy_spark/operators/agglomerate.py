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

Distribution shape: ``scored_pairs ⋈ components`` →
``repartitionById(_slot)`` → ``mapInPandas``, grouping by component inside
each task — embarrassingly parallel. The driver-CC path deals components
out largest first on no more tasks than components
(``connected_components``' ``_slot``); otherwise components are
hash-placed.
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

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.partitioning import hac_tasks

# SoftImpute stopping rule: relative RMSE change of the imputed entries
# (reference ``deduplipy/config.py:4``)
SOFTIMPUTE_CONVERGENCE = 0.01

# ---------------------------------------------------------------------------
# numpy SoftImpute (re-derivation of the SoftImpute algorithm of Mazumder,
# Hastie & Tibshirani (JMLR 2010), matching fancyimpute's defaults used by the
# reference: shrinkage = max_sv/50, mean init-fill, clip [0,1], relative-RMSE
# convergence on the missing entries)
# ---------------------------------------------------------------------------

# Golub-Kahan-Lanczos steps of the first attempt at the kept singular
# triplets; doubled until they converge, with the full SVD past n/2 steps
_GKL_STEPS = 30
# Ritz residual bound, relative to the largest singular value, under which a
# Lanczos triplet counts as converged
_GKL_TOL = 1e-12


def _kept_triplets(X: np.ndarray):
    """(U, s, Vt) of the singular triplets of X above ``s.max() / 50`` — the
    only ones SoftImpute's shrink keeps — by Golub-Kahan-Lanczos
    bidiagonalization with full reorthogonalization from a fixed-seed start
    vector. ``None`` when the full SVD is the cheaper or the only certain
    route: small X, a flat spectrum (more than half the Ritz values kept),
    an invariant Krylov subspace (a repeated singular value would be found
    once), or no convergence within n/2 steps.

    Converged means every kept Ritz value's residual bound ``beta_k *
    |P[k-1, i]|`` is <= _GKL_TOL * s1 and at least one converged Ritz value
    lies below the shrink, so no kept value is still unresolved above it.
    """
    rows, cols = X.shape
    if min(rows, cols) <= 2 * _GKL_STEPS:
        return None
    limit = min(rows, cols) // 2
    U = np.empty((rows, limit))
    V = np.empty((cols, limit + 1))
    alpha = np.empty(limit)
    beta = np.empty(limit)
    v0 = np.random.default_rng(0).standard_normal(cols)
    V[:, 0] = v0 / np.linalg.norm(v0)
    done, steps = 0, _GKL_STEPS
    while True:
        for j in range(done, steps):
            u = X @ V[:, j]
            if j:
                u -= beta[j - 1] * U[:, j - 1]
            u -= U[:, :j] @ (U[:, :j].T @ u)
            alpha[j] = np.linalg.norm(u)
            U[:, j] = u / alpha[j]
            v = X.T @ U[:, j] - alpha[j] * V[:, j]
            v -= V[:, :j + 1] @ (V[:, :j + 1].T @ v)
            beta[j] = np.linalg.norm(v)
            if min(alpha[j], beta[j]) <= _GKL_TOL * alpha[0]:
                return None
            V[:, j + 1] = v / beta[j]
        done = steps
        B = np.diag(alpha[:steps]) + np.diag(beta[:steps - 1], 1)
        P, s, Qt = np.linalg.svd(B)
        kept = s > s[0] / 50.0
        if 2 * kept.sum() > steps:
            return None
        ok = beta[steps - 1] * np.abs(P[-1]) <= _GKL_TOL * s[0]
        if ok[kept].all() and (ok & ~kept).any():
            return (U[:, :steps] @ P[:, kept], s[kept],
                    Qt[kept] @ V[:, :steps].T)
        steps *= 2
        if steps > limit:
            return None


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
        top = _kept_triplets(X_filled)
        if top is None:
            U, s, Vt = np.linalg.svd(X_filled, full_matrices=False)
        else:
            U, s, Vt = top
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
    (0..n-1 = leaves, n+i = i-th merge), heights may be non-monotonic.

    Müllner's "generic" algorithm (arXiv:1109.2378) on a symmetric `dist`:
    D2 stays in place with dead columns at inf, and each row caches its
    minimum and lowest argmin. A merge rescans only the merged row and
    the rows whose cached neighbour was one of the two merged slots; every
    other row compares its cache with the one new column. O(n²) for most
    inputs, against the O(n³) of copying the live submatrix per merge.

    Ties: the lowest row whose cached minimum is the global minimum, with
    its lowest argmin — the pair a row-major argmin over the live
    submatrix picks (a deterministic stand-in for scipy's scan order).
    """
    n = dist.shape[0]
    if n < 2:
        return []
    D2 = dist.astype(float) ** 2
    np.fill_diagonal(D2, np.inf)
    ids = list(range(n))                 # slot -> cluster id
    sizes = [1] * n                      # slot -> cluster size
    nbr = D2.argmin(axis=1)              # lowest argmin per row; -1 = dead
    mins = D2.min(axis=1)
    merges: list[tuple[int, int, float, int]] = []
    for next_id in range(n, 2 * n - 1):
        si = int(mins.argmin())
        sj = int(nbr[si])                # si < sj: row sj holds the same min
        ni, nj = sizes[si], sizes[sj]
        dij = float(D2[si, sj])
        # clamp: float error in the LW recurrence can leave D2 slightly
        # negative; sqrt would yield NaN heights, which cut_merges treats as
        # above-threshold (silent over-split)
        h = math.sqrt(max(dij, 0.0))
        merges.append((ids[si], ids[sj], h, ni + nj))
        if next_id == 2 * n - 2:
            break                        # the last merge updates nothing
        ids[si], sizes[si] = next_id, ni + nj
        # Lance-Williams centroid update into slot si; dead and merged
        # columns come out inf (inf * size stays inf)
        d2 = (ni * D2[si] + nj * D2[sj]) / (ni + nj) - (
            ni * nj * dij
        ) / (ni + nj) ** 2
        np.maximum(d2, 0.0, out=d2)
        d2[si] = d2[sj] = np.inf
        D2[si] = d2
        D2[:, si] = d2
        D2[:, sj] = np.inf                # row sj is never read again
        mins[sj], nbr[sj] = np.inf, -1
        # rows whose cached neighbour moved or died, si itself included
        # (its neighbour was sj): rescan
        stale = np.flatnonzero((nbr == si) | (nbr == sj))
        sub = D2[stale]
        nbr[stale] = sub.argmin(axis=1)
        mins[stale] = sub.min(axis=1)
        # every other row: the new column si may now be its (lowest) min; a
        # rescanned row already holds it, so it never counts as better
        better = (d2 < mins) | ((d2 == mins) & (nbr > si))
        np.copyto(nbr, si, where=better)
        np.copyto(mins, d2, where=better)
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
                         n_slots: int) -> DataFrame:
    """Grouped HAC over (id_1, id_2, score, group, component, _slot) edges.

    The rows of HAC task k are those with ``_slot == k``, ``0 <= _slot <
    n_slots``, and a group never spans slots. ``repartitionById`` places
    them: the edge table is small in BYTES (AQE would coalesce a hash
    exchange to ~1 partition) but large in PYTHON WORK, and an explicit
    partition count is exempt from AQE coalescing. The callers size
    `n_slots` in whole tasks of work (`partitioning.hac_tasks`, and no
    more slots than components on the driver-CC path): every Python task pays
    ~0.13 s before its body starts (partitioning's module docstring), so
    on hot_bands the hash placement's 8 tasks for 3 components ran 5
    empty tasks at 0.11-0.22 s each and put two components in one.

    mapInPandas over the placed partitions, grouping INSIDE the batch:
    dedup graphs have millions of TINY components, and per-group Arrow
    exchanges (applyInPandas) cost more than the numpy work — one pandas
    groupby per partition is ~3x cheaper. Batches of one partition are
    concatenated first (Arrow may split a partition into several batches).
    """
    cluster_threshold = cfg.cluster_threshold
    fill_missing = cfg.fill_missing
    max_size = cfg.max_hac_size
    # int, as repartitionById requires: a session without Arrow turns the
    # driver path's int32 pandas column into a long
    edges = edges.repartitionById(
        n_slots, F.col("_slot").cast("int")).drop("_slot")

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
    n_slots: int | None = None,
) -> DataFrame:
    """(id, cluster_id, component, capped) per node of every scored component.

    `scored` = (id_1, id_2, score); `components` = (id, component, _csize)
    from ``connected_components``, plus ``_slot`` on its driver path. Both are consumed more than once
    here, so the caller passes them already cut (``DedupPipeline.cluster``
    does).

    ``max_component_size``: the largest component's node count when the
    caller already knows it (connected_components' driver path computes it
    for free). When it proves every component fits ``max_hac_size``, the
    whole big-component branch — including the planning of the sub-split
    dataflow — is skipped outright (guide §7.3: fewer driver barriers);
    when it proves a bigger one exists, the branch runs without its
    driver-side isEmpty probe job. ``None`` keeps the probe.

    ``n_slots``: the range of the components' ``_slot`` column
    (connected_components reports it as ``stats_out["hac_slots"]``); the
    grouped HAC then runs one task per slot. ``None`` (components from
    the distributed CC path or read back from a checkpoint) hash-places
    the components over
    ``hac_tasks(n_edges)`` tasks instead, `n_edges` being the known
    scored-edge count or ``None``.

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
    if n_slots is None:
        n_slots = hac_tasks(scored.sparkSession, n_edges)
        small = small.withColumn(
            "_slot", F.pmod(F.hash("component"), F.lit(n_slots)))
    edges_small = (
        scored.join(
            small.select(F.col("id").alias("id_1"), "component", "_slot"),
            "id_1")
        .select("id_1", "id_2", "score", "component",
                F.col("component").alias("group"), "_slot")
    )
    out = _agglomerate_grouped(edges_small, cfg, n_slots)
    if all_small:
        return out

    big = components.where(
        F.col("_csize") > cfg.max_hac_size).select("id", "component")
    # cheap probe: big components are rare; skip the whole sub-path when
    # none exist (a limit-1 scan of the already-materialized components).
    # A known max_component_size above the cap already proves one exists.
    if max_component_size is None and big.isEmpty():
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
    n_big = hac_tasks(scored.sparkSession, None)
    out_big = _agglomerate_grouped(
        induced.withColumn("_slot", F.pmod(F.hash("group"), F.lit(n_big))),
        cfg, n_big)
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
