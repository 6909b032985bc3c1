"""Property-based tests (hypothesis) for the pure-numpy kernels.

These guard the batch-vectorized fast paths against their scalar reference
implementations on ADVERSARIAL inputs (arbitrary unicode, pathological
lengths), and structural invariants of the clustering/cover algorithms.
No SparkSession needed — everything here is driver-side numpy.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from deduplipy_spark.operators.minhash import (
    _BATCH_MAX_LEN,
    oph_signature_of_hashes,
    shingle_hashes_raw,
    signature_batch,
)
from deduplipy_spark.operators.simhash import _token_hashes, simhash_batch, simhash_of_hashes

# text strategy: mixes ascii, whitespace runs, unicode
_text = st.text(
    alphabet=st.characters(min_codepoint=0x9, max_codepoint=0x4E2F,
                           blacklist_categories=("Cs",)),
    max_size=400,
)
# lengths on both sides of the batch kernel's two cut-offs: k (=7) and
# _BATCH_MAX_LEN bytes (ascii, so chars == bytes)
_ascii = st.characters(min_codepoint=0x9, max_codepoint=0x7E)
_doc = st.one_of(
    _text,
    st.text(alphabet=_ascii, max_size=9),
    st.text(alphabet=_ascii, min_size=_BATCH_MAX_LEN - 2,
            max_size=_BATCH_MAX_LEN + 2),
)


@settings(max_examples=40, deadline=None)
@given(st.lists(_text, max_size=12))
def test_simhash_batch_equals_scalar(docs):
    expected = [simhash_of_hashes(_token_hashes(d)) for d in docs]
    assert list(simhash_batch(docs)) == expected


@settings(max_examples=30, deadline=None)
@given(st.lists(_doc, max_size=8))
def test_signature_batch_equals_scalar(docs):
    expected = [
        oph_signature_of_hashes(shingle_hashes_raw(d, 7), 128, 42)
        .view(np.int64)
        for d in docs
    ]
    got = signature_batch(docs, 128, 7, 42)
    assert all((np.asarray(g) == np.asarray(e)).all()
               for g, e in zip(got, expected))


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_centroid_hac_cut_refinement(data):
    """cut_merges uses subtree-max effective heights, which are monotone
    along the dendrogram — so a cut at a smaller threshold must REFINE the
    partition of any larger threshold (holds even for non-monotonic raw
    centroid heights and ties)."""
    from deduplipy_spark.operators.agglomerate import centroid_linkage, cut_merges

    n = data.draw(st.integers(min_value=2, max_value=8))
    tri = data.draw(
        st.lists(st.floats(min_value=0.05, max_value=1.0),
                 min_size=n * (n - 1) // 2, max_size=n * (n - 1) // 2)
    )
    D = np.zeros((n, n))
    idx = np.triu_indices(n, 1)
    D[idx] = tri
    D = D + D.T
    t1 = data.draw(st.floats(min_value=0.0, max_value=1.5))
    t2 = data.draw(st.floats(min_value=0.0, max_value=1.5))
    t1, t2 = min(t1, t2), max(t1, t2)
    merges = centroid_linkage(D)
    fine = cut_merges(merges, n, t1)
    coarse = cut_merges(merges, n, t2)
    # refinement: same fine label => same coarse label
    fine_to_coarse = {}
    for f, c in zip(fine, coarse):
        assert fine_to_coarse.setdefault(int(f), int(c)) == int(c)


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_centroid_hac_cut_extremes(data):
    from deduplipy_spark.operators.agglomerate import centroid_linkage, cut_merges

    n = data.draw(st.integers(min_value=2, max_value=8))
    tri = data.draw(
        st.lists(st.floats(min_value=0.05, max_value=1.0),
                 min_size=n * (n - 1) // 2, max_size=n * (n - 1) // 2)
    )
    D = np.zeros((n, n)); idx = np.triu_indices(n, 1)
    D[idx] = tri; D = D + D.T
    merges = centroid_linkage(D)
    assert len(cut_merges(merges, n, 0.0)) == n       # below all: singletons
    # centroid heights can exceed input distances, but 2x the max pairwise
    # bounds them for metric-ish inputs in [0,1]
    assert len(set(cut_merges(merges, n, 10.0))) == 1  # above all: one cluster


def _cut_merges_members(merges, n, t):
    """The member-list cut_merges that the representative-leaf version
    replaced: unites every leaf of each merge whose effective height <= t."""
    eff = {}
    members = {i: [i] for i in range(n)}
    for m, (a, b, h, _) in enumerate(merges):
        node = n + m
        eff[node] = max(h, eff.get(a, 0.0), eff.get(b, 0.0))
        members[node] = members[a] + members[b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for m in range(len(merges)):
        node = n + m
        if eff[node] <= t:
            leaves = members[node]
            root = find(leaves[0])
            for leaf in leaves[1:]:
                parent[find(leaf)] = root
    labels = np.array([find(i) for i in range(n)])
    _, out = np.unique(labels, return_inverse=True)
    return out


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_cut_merges_matches_member_list_cut(data):
    """Random merge trees (arbitrary pairing, non-monotonic heights) and
    centroid linkages, each with continuous or tie-heavy (0.1-grid)
    heights, cut at thresholds that include the tied heights themselves:
    identical labels to the member-list cut."""
    from deduplipy_spark.operators.agglomerate import centroid_linkage, cut_merges

    n = data.draw(st.integers(min_value=1, max_value=40))
    ties = data.draw(st.booleans())
    seed = data.draw(st.integers(min_value=0, max_value=2**32 - 1))
    rng = np.random.default_rng(seed)
    if data.draw(st.booleans()):
        D = rng.random((n, n))
        if ties:
            D = np.round(D, 1)
        D = np.triu(D, 1) + np.triu(D, 1).T
        merges = centroid_linkage(D)
    else:
        active, merges = list(range(n)), []
        for m in range(n - 1):
            a, b = (active.pop(int(rng.integers(len(active))))
                    for _ in range(2))
            h = float(rng.random())
            merges.append((a, b, round(h, 1) if ties else h, 0))
            active.append(n + m)
    for t in (0.0, 0.1, 0.3, 0.5, float(rng.random()), 2.0):
        assert (cut_merges(merges, n, t)
                == _cut_merges_members(merges, n, t)).all(), (merges, t)


def _centroid_linkage_submatrix(dist):
    """The O(n³) centroid linkage that the cached-neighbour version
    replaced: copies the live submatrix on every merge and takes its
    row-major argmin."""
    n = dist.shape[0]
    D2 = dist.astype(float) ** 2
    np.fill_diagonal(D2, np.inf)
    active = {i: (i, 1) for i in range(n)}   # slot -> (cluster id, size)
    merges = []
    next_id = n
    slots = list(range(n))
    for _ in range(n - 1):
        sub = D2[np.ix_(slots, slots)]
        flat = np.argmin(sub)
        ii, jj = divmod(flat, len(slots))
        if ii > jj:
            ii, jj = jj, ii
        si, sj = slots[ii], slots[jj]
        ci, ni = active[si]
        cj, nj = active[sj]
        h = float(np.sqrt(max(D2[si, sj], 0.0)))
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


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_centroid_linkage_matches_submatrix_oracle(data):
    """Identical merge lists (pairs, heights, sizes) to the submatrix
    oracle on continuous, 1/4-grid tie-heavy and 0/1 matrices; the 0/1
    ones break the triangle inequality, so the Lance-Williams update goes
    negative and is clamped."""
    from deduplipy_spark.operators.agglomerate import centroid_linkage

    n = data.draw(st.integers(min_value=3, max_value=200))
    kind = data.draw(st.sampled_from(["random", "grid", "clamp"]))
    rng = np.random.default_rng(
        data.draw(st.integers(min_value=0, max_value=2**32 - 1)))
    D = rng.random((n, n))
    if kind == "grid":
        D = np.round(D * 4) / 4
    elif kind == "clamp":
        D = (D < 0.5).astype(float)
    D = np.triu(D, 1) + np.triu(D, 1).T
    assert centroid_linkage(D) == _centroid_linkage_submatrix(D)


def test_centroid_linkage_tie_on_the_new_column():
    """Leaves 1 and 2 merge first; the merged cluster then lies exactly as
    far from leaf 0 as leaf 3 does (5-12-13 triangle, exact in binary).
    Row 0 cached leaf 3 as its neighbour, and the lowest-argmin tie rule
    must move it to the new column, which has the lower slot."""
    from deduplipy_spark.operators.agglomerate import centroid_linkage

    D = np.array([[0, 13 / 16, 13 / 16, 12 / 16],
                  [13 / 16, 0, 10 / 16, 1],
                  [13 / 16, 10 / 16, 0, 1],
                  [12 / 16, 1, 1, 0]])
    merges = centroid_linkage(D)
    assert merges == _centroid_linkage_submatrix(D)
    assert merges[:2] == [(1, 2, 0.625, 2), (0, 4, 0.75, 3)]


def test_centroid_linkage_n2000_under_one_second():
    import time

    from deduplipy_spark.operators.agglomerate import centroid_linkage

    D = np.random.default_rng(0).random((2000, 2000))
    D = np.triu(D, 1) + np.triu(D, 1).T
    best = np.inf
    for _ in range(2):
        t0 = time.perf_counter()
        merges = centroid_linkage(D)
        best = min(best, time.perf_counter() - t0)
    assert len(merges) == 1999
    assert best < 1.0, best


@settings(max_examples=50, deadline=None)
@given(st.data())
def test_greedy_set_cover_reaches_recall(data):
    from deduplipy_spark.operators.set_cover import greedy_set_cover

    universe = set(range(data.draw(st.integers(min_value=1, max_value=30))))
    subsets = data.draw(
        st.lists(st.sets(st.sampled_from(sorted(universe)), min_size=1),
                 min_size=1, max_size=12)
    )
    recall = data.draw(st.floats(min_value=0.1, max_value=1.0))
    coverable = set().union(*subsets)
    target = universe & coverable            # cover what's coverable
    chosen = greedy_set_cover(subsets, target, recall)
    covered = set().union(*chosen) if chosen else set()
    assert len(covered & target) >= recall * len(target) - 1e-9
    # greedy never picks a zero-gain subset
    seen = set()
    for s in chosen:
        assert s - seen, "zero-gain subset chosen"
        seen |= s


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=80))
def test_driver_cc_matches_networkx(edges):
    import networkx as nx
    import pandas as pd

    pdf = pd.DataFrame(edges, columns=["id_1", "id_2"])
    # run the numpy label-propagation core directly (no SparkSession)
    e1 = pdf["id_1"].to_numpy(dtype=np.int64)
    e2 = pdf["id_2"].to_numpy(dtype=np.int64)
    if not len(pdf):
        return
    ids = np.unique(np.concatenate([e1, e2]))
    a = np.searchsorted(ids, e1); b = np.searchsorted(ids, e2)
    labels = np.arange(ids.shape[0], dtype=np.int64)
    while True:
        nxt = labels.copy()
        np.minimum.at(nxt, a, labels[b])
        np.minimum.at(nxt, b, labels[a])
        nxt = nxt[nxt]
        if np.array_equal(nxt, labels):
            break
        labels = nxt
    got = dict(zip(ids.tolist(), ids[labels].tolist()))
    g = nx.Graph(); g.add_edges_from(edges)
    for comp in nx.connected_components(g):
        m = min(comp)
        for node in comp:
            assert got[node] == m
