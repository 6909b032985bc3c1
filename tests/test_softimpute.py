"""SoftImpute on the kept singular triplets (Golub-Kahan-Lanczos) against the
full-SVD SoftImpute it replaced (`soft_impute_full_svd`, kept here as the
oracle): same imputed values to 1e-12 and the same HAC labels. No Spark."""

from unittest import mock

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from deduplipy_spark.operators import agglomerate as A


def soft_impute_full_svd(X, convergence_threshold=A.SOFTIMPUTE_CONVERGENCE,
                         max_iters=100):
    """SoftImpute with a full np.linalg.svd on every iteration."""
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


def _component(kind, n, seed):
    """Upper-triangle (i, j, score) edges of one connected component: a
    random spanning tree plus extra edges. 'sparse': uniform scores, low
    density; 'planted': dense strong blocks joined by weak edges; 'ties':
    scores drawn from four values of the 1/128 grid."""
    rng = np.random.default_rng(seed)
    parent = np.array([rng.integers(i) for i in range(1, n)])
    adj = np.zeros((n, n), dtype=bool)
    adj[np.arange(1, n), parent] = True
    score = rng.uniform(0.1, 1.0, (n, n))
    if kind == "planted":
        block = rng.integers(0, max(2, n // 40), n)
        same = block[:, None] == block[None, :]
        adj |= same & (rng.random((n, n)) < 0.4)
        score = np.where(same, rng.uniform(0.6, 1.0, (n, n)),
                         rng.uniform(0.1, 0.4, (n, n)))
    else:
        adj |= rng.random((n, n)) < 3.0 / n
        if kind == "ties":
            score = rng.choice([32, 64, 96, 128], (n, n)) / 128
    i, j = np.nonzero(np.tril(adj, -1))
    return j, i, score[i, j]


def _adjacency(n, edges):
    e1, e2, sc = edges
    adj = np.zeros((n, n))
    adj[e1, e2] = sc
    adj[e2, e1] = sc
    return adj


def _both(fn, *args):
    got = fn(*args)
    with mock.patch.object(A, "soft_impute", soft_impute_full_svd):
        want = fn(*args)
    return got, want


# derandomized: the 1e-12 bound has a ~5x margin over the largest
# difference seen at n <= 200, and a fixed example set cannot flake on it
@settings(max_examples=30, deadline=None, derandomize=True)
@given(kind=st.sampled_from(["sparse", "planted", "ties"]),
       n=st.integers(min_value=3, max_value=200),
       seed=st.integers(min_value=0, max_value=2**32 - 1),
       threshold=st.sampled_from([0.3, 0.5, 0.7]))
def test_matches_full_svd_oracle(kind, n, seed, threshold):
    edges = _component(kind, n, seed)
    got, want = _both(A.fill_missing_links, _adjacency(n, edges))
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)
    ids = np.arange(n, dtype=np.int64) * 3 + 7
    labeled = (ids[edges[0]], ids[edges[1]], edges[2])
    got, want = _both(A.hierarchical_cluster_component, ids, labeled,
                      threshold, True)
    assert (got == want).all()


def _first_iterate(adj):
    """The matrix SoftImpute decomposes first: diagonal 1, missing links
    filled with their column means."""
    m = adj.copy()
    np.fill_diagonal(m, 1.0)
    m[m == 0] = np.nan
    return np.where(np.isnan(m), np.nanmean(m, axis=0), m)


def _bidiagonal_sizes(monkeypatch):
    """Record the shape of every np.linalg.svd call."""
    shapes = []
    svd = np.linalg.svd

    def spy(a, *args, **kwargs):
        shapes.append(a.shape)
        return svd(a, *args, **kwargs)

    monkeypatch.setattr(np.linalg, "svd", spy)
    return shapes


def test_sparse_component_takes_the_lanczos_path(monkeypatch):
    X = _first_iterate(_adjacency(300, _component("sparse", 300, 5)))
    shapes = _bidiagonal_sizes(monkeypatch)
    U, s, Vt = A._kept_triplets(X)
    assert shapes and all(sh[0] < 300 for sh in shapes)
    u, s_full, vt = np.linalg.svd(X)
    kept = s_full > s_full[0] / 50
    assert len(s) == kept.sum()
    np.testing.assert_allclose(s, s_full[kept], rtol=1e-12)
    np.testing.assert_allclose((U * s) @ Vt, (u[:, kept] * s_full[kept]) @ vt[kept],
                               rtol=0, atol=1e-12)


def test_small_and_flat_inputs_take_full_svd_first_try(monkeypatch):
    """n <= 2 * _GKL_STEPS never bidiagonalizes; a flat spectrum (most Ritz
    values kept) stops after one _GKL_STEPS attempt instead of doubling."""
    rng = np.random.default_rng(0)
    shapes = _bidiagonal_sizes(monkeypatch)
    assert A._kept_triplets(rng.random((2 * A._GKL_STEPS,) * 2)) is None
    assert shapes == []
    assert A._kept_triplets(np.eye(200) + 1e-3 * rng.random((200, 200))) is None
    assert shapes == [(A._GKL_STEPS, A._GKL_STEPS)]


def test_repeated_singular_value_takes_full_svd():
    """A star with equal scores has a handful of distinct singular values,
    one of them repeated n-2 times. Lanczos from one start vector sees each
    distinct value once, so its Krylov subspace turns invariant within a
    few steps, and that sends the star to the full SVD."""
    n = 150
    adj = np.zeros((n, n))
    adj[0, 1:] = adj[1:, 0] = 0.5
    assert A._kept_triplets(_first_iterate(adj)) is None
    got, want = _both(A.fill_missing_links, adj)
    assert (got == want).all()
