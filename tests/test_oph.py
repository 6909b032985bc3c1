"""One-permutation hashing kernel (operators/minhash.py:oph_signature_of_hashes).

Anchors the OPH estimator OUTSIDE the system under test: ground truth is
exact set Jaccard on synthetic full-range hash sets, not any pipeline
output. Also pins batch==scalar parity and densification invariants.
"""
import numpy as np
import pytest

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.operators.minhash import (
    oph_signature_of_hashes,
    shingle_hashes_raw,
    signature_batch,
)

MAXU = np.iinfo(np.uint64).max


def _pair(rng, n, frac):
    base = rng.integers(0, 2**64, n, dtype=np.uint64)
    ns = int(n * frac)
    mk = lambda: np.unique(np.concatenate(
        [base[:ns], rng.integers(0, 2**64, n - ns, dtype=np.uint64)]))
    o1, o2 = mk(), mk()
    true_j = len(np.intersect1d(o1, o2)) / len(np.union1d(o1, o2))
    return o1, o2, true_j


def test_estimator_unbiased_vs_exact_jaccard():
    """Slot-equality estimate tracks exact Jaccard (mean abs bias < 0.02
    over 30 trials) across the similarity range — the independent anchor."""
    rng = np.random.default_rng(7)
    for frac in (0.9, 0.5, 0.2):
        errs = []
        for _ in range(30):
            o1, o2, tj = _pair(rng, 3000, frac)
            est = (oph_signature_of_hashes(o1, 128)
                   == oph_signature_of_hashes(o2, 128)).mean()
            errs.append(est - tj)
        assert abs(np.mean(errs)) < 0.02, (frac, np.mean(errs))


def test_estimator_ok_under_densification():
    """Sets far smaller than num_perm (empty bins -> rotation densification)
    stay unbiased, just higher variance."""
    rng = np.random.default_rng(11)
    errs = []
    for _ in range(60):
        o1, o2, tj = _pair(rng, 50, 0.6)
        est = (oph_signature_of_hashes(o1, 128)
               == oph_signature_of_hashes(o2, 128)).mean()
        errs.append(est - tj)
    assert abs(np.mean(errs)) < 0.04, np.mean(errs)


def test_densification_fills_all_slots_deterministically():
    rng = np.random.default_rng(3)
    x = np.unique(rng.integers(0, 2**64, 10, dtype=np.uint64))
    s1 = oph_signature_of_hashes(x, 128)
    assert (s1 != MAXU).all()
    assert (s1 == oph_signature_of_hashes(x, 128)).all()
    # empty input stays the all-MAXU sentinel
    assert (oph_signature_of_hashes(np.empty(0, np.uint64), 128) == MAXU).all()


def test_identical_sets_identical_sigs_disjoint_sets_differ():
    rng = np.random.default_rng(5)
    a = np.unique(rng.integers(0, 2**64, 500, dtype=np.uint64))
    b = np.unique(rng.integers(0, 2**64, 500, dtype=np.uint64))
    sa, sb = oph_signature_of_hashes(a, 128), oph_signature_of_hashes(b, 128)
    assert (sa == oph_signature_of_hashes(a.copy(), 128)).all()
    assert (sa == sb).mean() < 0.1


def test_batch_equals_scalar_oph():
    """signature_batch must be bit-identical to the per-doc scalar path for
    short docs (batch rolling-hash route) and long docs."""
    docs = ["def f(x):\n    return x + 1\n" * m for m in (1, 3, 40)]
    docs += ["", "ab", "x" * 255, "y" * 256, "import os\n" * 100]
    want = [oph_signature_of_hashes(shingle_hashes_raw(d, 7), 128, 42)
            .view(np.int64) for d in docs]
    got = signature_batch(docs, 128, 7, 42)
    for w, g in zip(want, got):
        assert (w == np.asarray(g)).all()


def test_oph_seed_rekeys_signatures():
    """minhash_seed must not be inert on the oph path (ADVICE r3): different
    seeds give independent replicates, same seed reproduces, and the
    estimator stays accurate under any seed (XOR re-key is a bijection)."""
    from deduplipy_spark.operators.minhash import oph_signature_of_hashes

    rng = np.random.Generator(np.random.Philox(7))
    shared = rng.integers(0, 2**64, size=600, dtype=np.uint64)
    only_a = rng.integers(0, 2**64, size=200, dtype=np.uint64)
    only_b = rng.integers(0, 2**64, size=200, dtype=np.uint64)
    xa = np.concatenate([shared, only_a])
    xb = np.concatenate([shared, only_b])
    true_j = 600 / 1000
    for seed in (0, 42, 12345):
        sa = oph_signature_of_hashes(xa, 128, seed)
        sb = oph_signature_of_hashes(xb, 128, seed)
        est = (sa == sb).mean()
        assert abs(est - true_j) < 0.15, (seed, est)
    s42 = oph_signature_of_hashes(xa, 128, 42)
    assert np.array_equal(s42, oph_signature_of_hashes(xa, 128, 42))
    assert not np.array_equal(s42, oph_signature_of_hashes(xa, 128, 0))
    assert not np.array_equal(s42, oph_signature_of_hashes(xa, 128, 7))


def test_oph_nonpow2_num_perm_warns():
    """EngineConfig warns when oph binning cannot use every slot
    independently (ADVICE r3: silent degradation for 16 bands x 6 rows =
    96 slots)."""
    import warnings

    with pytest.warns(UserWarning, match="not a.*power of two"):
        EngineConfig(bands=16, rows_per_band=6)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        EngineConfig(bands=16, rows_per_band=8)
