"""Char-shingle MinHash signatures + LSH band keys.

Replaces the reference's learned rule-based blocking
(``deduplipy/blocking/blocking.py:80-116``) and its pyminhash sampling
(``deduplipy/sampling/minhash_sampling.py:22-68``) with the standard
shingle→MinHash→band scheme (Broder; Leskovec et al. MMDS ch.3).

Execution shape (scale notes):
- Signature computation is a vectorized Arrow pandas UDF (no per-row
  Python loops over shingles: rolling-hash via k shifted uint64
  multiply-adds over the flat byte buffer). The kernel is one-permutation
  hashing with rotation densification (O(shingles) per doc —
  `oph_signature_of_hashes`): a (num_perm,) signature, banded below and
  compared by the slot-equality Jaccard estimator.
- Band keys are derived JVM-side from the signature array with
  ``xxhash64(slice(sig, ...), band_idx)`` — stays inside
  whole-stage codegen, and the (id, band_key) explode is narrow.
- ``content`` is dropped immediately after signatures (SURVEY §7 risk 7):
  downstream tables carry only ids + signatures.

Determinism: `minhash_seed` re-keys the one permutation through a
splitmix64 finalize; the signature of a row depends only on (content,
config), never on partitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from deduplipy_spark.config import EngineConfig

# splitmix64 finalizer constants (public domain, Vigna) — mixes the rolling
# hash so band keys see well-distributed bits.
_SM_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_C2 = np.uint64(0x94D049BB133111EB)
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray) -> np.ndarray:
    x = (x + _SM_GAMMA).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _SM_C1
    x ^= x >> np.uint64(27)
    x *= _SM_C2
    x ^= x >> np.uint64(31)
    return x


def _window_hashes(buf: np.ndarray, k: int) -> np.ndarray:
    """Mixed 64-bit hashes of every k-byte window of `buf` (bytes widened
    to uint64), window order."""
    nwin = buf.shape[0] - k + 1
    powers = np.power(np.uint64(1099511628211), np.arange(k, dtype=np.uint64))
    raw = np.zeros(nwin, dtype=np.uint64)
    # k shifted multiply-adds over the whole buffer (wraps mod 2^64):
    # bit-identical to the windowed matvec but 1.6x faster — integer matmul
    # has no BLAS path, so the (nwin, k) expansion only added traffic
    with np.errstate(over="ignore"):
        for j in range(k):
            raw += buf[j : j + nwin] * powers[j]
    return _mix64(raw)


def shingle_hashes_raw(text: str, k: int) -> np.ndarray:
    """64-bit hashes of all k-char shingles, window order, duplicates kept
    (a text shorter than k is one shingle).

    The OPH kernel consumes this directly: a bin MIN is invariant under
    duplicates and ordering, and skipping the np.unique sort is ~40% of
    the per-doc signature cost on real code files."""
    b = np.frombuffer(text.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    if b.shape[0] == 0:
        return np.empty(0, dtype=np.uint64)
    return _window_hashes(b.astype(np.uint64), min(b.shape[0], k))


def oph_signature_of_hashes(x: np.ndarray, num_perm: int,
                            seed: int = 0) -> np.ndarray:
    """One-permutation MinHash (Li/Owen/Zhang NIPS'12) with rotation
    densification (Shrivastava & Li ICML'14): hash space is split into
    `num_perm` equal bins by the top bits, the signature slot is the min
    hash landing in each bin, and empty bins borrow circularly from the
    next non-empty bin to the right with a distance-scaled offset (keeps
    borrowed slots from colliding spuriously between documents whose empty
    runs differ).

    The slot-equality Jaccard estimator of classic k-permutation MinHash
    at O(shingles) instead of O(shingles x num_perm) uint64 multiplies.
    Accepts `x` in ANY order, duplicates allowed (bin minima are invariant
    to both — ufunc.at scatter-min, no sort). Deterministic in
    (content, config) only.

    num_perm should be a power of two (the default 128 is): for other
    values the top-bits binning uses the largest power of two below
    num_perm, so the remaining slots are always densified duplicates of
    lower slots — still correct/unbiased, but with less independent
    information per slot (EngineConfig warns on such a num_perm).

    `seed` re-keys the one permutation: the shingle hashes are XORed with a
    splitmix64 finalize of the seed before binning — a bijection of the
    hash space, so the slot-equality Jaccard estimator is unchanged, but
    configs differing only in minhash_seed produce independent
    replicates.
    """
    sig = np.full(num_perm, np.iinfo(np.uint64).max, dtype=np.uint64)
    if x.shape[0] == 0:
        return sig
    if seed:
        # shape-(1,) array, not a np.uint64 scalar: scalar (and 0-d) integer
        # overflow emits RuntimeWarnings inside _mix64's multiplies; 1-d
        # array overflow wraps silently (the intended mod-2^64 arithmetic)
        x = x ^ _mix64(np.array([seed], dtype=np.uint64))[0]
    shift = np.uint64(64 - int(num_perm).bit_length() + 1)  # log2(num_perm)
    np.minimum.at(sig, (x >> shift).astype(np.int64), x)
    empty_mask = sig == np.iinfo(np.uint64).max
    if empty_mask.any():
        filled = np.nonzero(~empty_mask)[0]
        if filled.shape[0] == 0:
            return sig
        empty = np.nonzero(empty_mask)[0]
        # next filled bin to the right, circular
        pos = np.searchsorted(filled, empty)
        src = filled[pos % filled.shape[0]]
        dist = (src - empty) % num_perm
        sig[empty] = sig[src] + dist.astype(np.uint64) * _SM_GAMMA
    return sig


# Docs below this byte length take the batched rolling-hash kernel; longer
# docs keep the per-doc path. Per-doc Python overhead dominates short
# strings (batch = 1.9x at 100B), while hashing a long doc on its own
# bounds the temporaries: the batched path widens the whole concatenated
# buffer to uint64 and builds window-hash arrays of the same length (8
# bytes per input byte each), so long docs in the concatenation would
# scale every batch's working set with the longest files in it.
_BATCH_MAX_LEN = 256


def signature_batch(contents, num_perm: int, k: int, seed: int) -> list:
    """MinHash signatures (int64 views) for a whole Arrow batch,
    bit-identical to the per-doc
    ``oph_signature_of_hashes(shingle_hashes_raw(doc, k), num_perm, seed)``
    (non-str contents hash as "").

    SHORT documents — where per-doc Python overhead, not arithmetic, is the
    cost — are hashed together: one rolling-hash pass over their
    concatenated bytes (no per-doc encode/stride), then per-doc bin minima
    on zero-copy slices. Documents under k bytes (one short shingle) and
    LONG documents take the per-doc path — see _BATCH_MAX_LEN.
    """
    bufs = [
        (s.encode("utf-8", "surrogatepass") if isinstance(s, str) else b"")
        for s in contents
    ]
    lens = np.fromiter((len(x) for x in bufs), dtype=np.int64, count=len(bufs))
    out: list = [None] * len(bufs)
    for i in np.nonzero((lens < k) | (lens >= _BATCH_MAX_LEN))[0]:
        s = contents[i] if isinstance(contents[i], str) else ""
        out[i] = oph_signature_of_hashes(
            shingle_hashes_raw(s, k), num_perm, seed).view(np.int64)
    idxs = np.nonzero((lens >= k) & (lens < _BATCH_MAX_LEN))[0]
    if idxs.shape[0]:
        mixed = _window_hashes(np.frombuffer(
            b"".join(bufs[i] for i in idxs), dtype=np.uint8
        ).astype(np.uint64), k)
        n_lens = lens[idxs]
        starts = np.zeros(idxs.shape[0] + 1, dtype=np.int64)
        np.cumsum(n_lens, out=starts[1:])
        cnt = n_lens - k + 1                     # valid windows per doc;
        # windows crossing a doc boundary are simply never sliced below
        for di, i in enumerate(idxs):
            x = mixed[starts[di] : starts[di] + cnt[di]]   # zero-copy view
            out[i] = oph_signature_of_hashes(x, num_perm, seed).view(np.int64)
    return out


_SLOT_MASK = np.uint64(0xFFFFFFFF)


def truncate_sig(sig: np.ndarray) -> np.ndarray:
    """Low-32-bit slot truncation (uint32). Every downstream consumer tests
    slot EQUALITY only (band-key hashing, the scoring kernel), where a
    32-bit collision adds ~2^-32 bias per slot — immaterial — while halving
    the signature row through every checkpoint, shuffle, and join (the
    scoring joins are the pipeline's biggest exchange; measured
    memory-bandwidth-bound at high core counts)."""
    return (sig.view(np.uint64) & _SLOT_MASK).astype(np.uint32)


def make_signature_udf(cfg: EngineConfig):
    k, num_perm, seed = cfg.shingle_k, cfg.num_perm, cfg.minhash_seed

    @pandas_udf("array<int>")
    def minhash_sig(content: pd.Series) -> pd.Series:
        sigs = signature_batch(content.to_numpy(), num_perm, k, seed)
        return pd.Series(
            [truncate_sig(np.asarray(s, dtype=np.int64)).view(np.int32)
             for s in sigs],
            index=content.index)

    return minhash_sig


def with_signatures(files: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(file_id, sig) — content dropped right here, and content_sha too:
    the signature table is the pipeline's largest checkpointed/joined
    artifact (~512B/row of uint32 slots, truncate_sig), so it carries nothing but the key and the
    signature (sha-based exact handling lives in the pre-pass)."""
    sig_udf = make_signature_udf(cfg)
    return files.select(
        "file_id",
        sig_udf(F.col(cfg.content_col)).alias("sig"),
    )


def band_keys(signatures: DataFrame, cfg: EngineConfig, id_col: str = "file_id") -> DataFrame:
    """Explode each signature into (id, band_key) — JVM-side, narrow.

    band_key = xxhash64(sig[band slice], band_idx): the band index is
    hashed in, which is the same namespacing as the reference's
    'value:rule_idx' fingerprint suffix (blocking.py:97-98). The slice is
    hashed as an ARRAY — xxHash64 folds the elements natively; the earlier
    cast-to-string formulation materialized a ~90-char formatted string per
    (row, band) and was measured 31-37% slower on the whole candidate
    stage at 400k files.
    """
    bands = [
        F.xxhash64(
            F.slice("sig", 1 + j * cfg.rows_per_band, cfg.rows_per_band),
            F.lit(j),
        )
        for j in range(cfg.bands)
    ]
    return signatures.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(*bands)).alias("band_key"),
    )
