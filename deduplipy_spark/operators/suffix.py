"""Suffix-automaton containment pass — exact-substring duplicate detection.

The north star's third signal beside MinHash and SimHash: detect pairs where
one file's content is an exact substring of another (vendored files, file
concatenations, header-prepended copies). MinHash misses asymmetric
containment at low Jaccard (a 100-line file inside a 10k-line file has
Jaccard ~0.01), so this is a strictly additive recall path.

Distribution shape: candidates come from any blocker (shared band key ⇒
same group); the verify is local to each Arrow batch. Full containment is
checked by the GROUPED anchored rolling-hash pass below (one vectorized
scan of each container for all its candidate containees — the
multi-pattern upgrade VERDICT r3 #3 asked for, replacing one C
``str.find`` scan per pair); small groups keep the per-pair C scan, whose
constant is unbeatable at that size.

Scale notes: content must still be resident for this pass, so it runs
BEFORE content is dropped, on capped candidate groups only; output is
(id_1, id_2, containment) with containment always 1.0 (only full
containment is reported).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# grouped full-containment verify (VERDICT r3 #3): scan each container ONCE
# for ALL its candidate containees instead of one `str.find` scan per pair.
#
# Structure: polynomial rolling hash of every q-byte window of the long doc
# (q = anchor width), computed in O(n) numpy — prefix hashes via cumsum of
# c[j]*base^j, window hash (P[i+q]-P[i])*base^{-i} with the modular inverse
# of the odd base mod 2^64 (wrapping uint64 arithmetic IS the modulus).
# Each short contributes the hash of its first q bytes; window positions
# whose hash matches any anchor are verified EXACTLY with bytes.startswith
# (C memcmp), so hash collisions cannot produce wrong answers. If a short
# is contained at byte p, window p necessarily anchors it — exhaustive.
#
# Byte-level matching is codepoint-exact for valid UTF-8 (a continuation
# byte can never equal a lead byte, so a match cannot start mid-character).
#
# Cost per long: ~6 vectorized passes + one searchsorted against the sorted
# anchor set, INDEPENDENT of how many candidate shorts the long has — vs
# one C substring scan of the long per pair. The per-pair path wins for
# small groups (str.find's constant is tiny), so groups below _GROUP_MIN
# keep it.
# ---------------------------------------------------------------------------

_ANCHOR_MAX = 64        # anchor width cap (bytes)
_ANCHOR_MIN = 8         # shorts below this go to the per-pair fallback
_GROUP_MIN = 8          # min shorts per long before the grouped pass pays
# min container length for the grouped pass: its per-group fixed cost
# (prefix/power tables, the 64K-slot membership table, anchor dict) is
# ~60us, while a per-pair C str.find of an n-char container costs
# ~n ns/pair — so for short containers the scan-once machinery can never
# amortize (r6 microbench: 10k pairs of ~120-char docs in ~10-member
# groups ran 2.5ms per-pair vs 58.8ms grouped, 23x). Breakeven with
# _GROUP_MIN shorts sits near a few KB; both paths are exact, so the gate
# is pure cost-model, not semantics.
_LONG_SCAN_MIN = 4096
_BASE = np.uint64(0x9E3779B97F4A7C15 | 1)       # odd => invertible mod 2^64


def _inv_u64(a: np.uint64) -> np.uint64:
    """Modular inverse of odd a mod 2^64 (Newton iteration, 6 steps)."""
    a = int(a)
    x = a                       # correct to 5 bits
    for _ in range(6):
        x = (x * (2 - a * x)) % (1 << 64)
    return np.uint64(x)


_INVBASE = _inv_u64(_BASE)


def _prefix_pows(n: int) -> tuple[np.ndarray, np.ndarray]:
    """(base^j, base^-j) for j in [0, n) — cumprod wraps mod 2^64."""
    pows = np.full(n, _BASE, dtype=np.uint64)
    pows[0] = 1
    invs = np.full(n, _INVBASE, dtype=np.uint64)
    invs[0] = 1
    return np.cumprod(pows), np.cumprod(invs)


def _anchor_hashes(shorts: list, q: int, pows: np.ndarray) -> np.ndarray:
    """Vectorized: hash of the first q bytes of every short — one (S, q)
    matrix multiply against the shared power table instead of S separate
    tiny-array round trips."""
    mat = np.frombuffer(
        b"".join(sb[:q] for _, sb in shorts), dtype=np.uint8
    ).reshape(len(shorts), q).astype(np.uint64)
    with np.errstate(over="ignore"):
        return mat @ pows[:q]


def _verify_long_group(lb: bytes, shorts: list) -> list:
    """shorts: [(row_key, short_bytes)] -> [row_key] of contained shorts.

    One vectorized pass over `lb`, then exact verification of anchor hits.
    A short whose anchor repeats spuriously (shared boilerplate prefix)
    falls back to ONE full C scan after 32 failed verifications — the
    verdict (present OR absent) is cached in `resolved`, so a container
    whose boilerplate prefix repeats H times costs one scan, not H-32
    (ADVICE r4 #1).
    """
    q = min(_ANCHOR_MAX, min(len(sb) for _, sb in shorts))
    n = len(lb)
    if n < q:
        return []
    c = np.frombuffer(lb, dtype=np.uint8).astype(np.uint64)
    pows, invs = _prefix_pows(n)
    with np.errstate(over="ignore"):
        pref = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(c * pows, out=pref[1:])
        # window hash at i (q bytes): (P[i+q]-P[i]) * base^-i
        win = (pref[q:] - pref[:-q]) * invs[: n - q + 1]
    avals = _anchor_hashes(shorts, q, pows)
    entries = {}                                    # anchor hash -> entries
    for (key, sb), av in zip(shorts, avals.tolist()):
        entries.setdefault(av, []).append((key, sb))
    anchors = np.fromiter(entries.keys(), dtype=np.uint64, count=len(entries))
    anchors.sort()
    # cache-resident pre-filter: a 64K-slot membership table over the low
    # 16 bits keeps ~ |anchors|/65536 of the window hashes; binary search
    # (random-access, ~75ns/probe) then runs on that sliver instead of
    # every window
    bloom = np.zeros(1 << 16, dtype=bool)
    bloom[anchors & np.uint64(0xFFFF)] = True       # uint64 fancy-index ok
    maybe = np.nonzero(bloom[win & np.uint64(0xFFFF)])[0]
    wmay = win[maybe]
    idx = np.searchsorted(anchors, wmay)
    idx[idx == anchors.shape[0]] = 0
    hit_pos = maybe[anchors[idx] == wmay]
    found: set = set()
    resolved: set = set()       # keys whose full-scan fallback already ran
    failed: dict = {}
    for p in hit_pos.tolist():
        for key, sb in entries[int(win[p])]:
            if key in found or key in resolved:
                continue
            if lb.startswith(sb, p):
                found.add(key)
            else:
                failed[key] = failed.get(key, 0) + 1
                if failed[key] > 32:
                    resolved.add(key)       # scan once, cache either verdict
                    if sb in lb:
                        found.add(key)
    return list(found)


def _full_containment_rows(ids1, ids2, c1, c2) -> list:
    """Full-containment verify over pair lists: (id_1, id_2, 1.0) for every
    pair whose shorter content occurs inside the longer."""
    rows = []
    by_long: dict = {}
    for j, (i1, i2, a, b) in enumerate(zip(ids1, ids2, c1, c2)):
        a, b = (a or ""), (b or "")
        if not a or not b:
            continue
        if len(a) <= len(b):
            by_long.setdefault((i2, b), []).append((j, i1, i2, a))
        else:
            by_long.setdefault((i1, a), []).append((j, i1, i2, b))
    for (_, long_), plist in by_long.items():
        if len(plist) < _GROUP_MIN or len(long_) < _LONG_SCAN_MIN:
            # container too short (or group too small) for the grouped
            # machinery to amortize — per-pair C scan (exact either way)
            small = plist
            big = []
        else:
            small = [(j, i1, i2, s) for j, i1, i2, s in plist
                     if len(s.encode("utf-8", "surrogatepass")) < _ANCHOR_MIN]
            small_idx = {x[0] for x in small}
            big = [p for p in plist if p[0] not in small_idx]
            if len(big) < _GROUP_MIN:
                small = plist
                big = []
        for j, i1, i2, s in small:
            if s in long_:
                rows.append((i1, i2, 1.0))
        if big:
            lb = long_.encode("utf-8", "surrogatepass")
            shorts = [(j, s.encode("utf-8", "surrogatepass"))
                      for j, _, _, s in big]
            hit = set(_verify_long_group(lb, shorts))
            for j, i1, i2, _ in big:
                if j in hit:
                    rows.append((i1, i2, 1.0))
    return rows


def containment_pairs(
    candidates: DataFrame, files: DataFrame,
    id_col: str = "file_id", content_col: str = "content",
) -> DataFrame:
    """Verify containment for candidate pairs: emits (id_1, id_2, 1.0) for
    each pair whose shorter content occurs inside the longer.

    Verified with the anchored rolling-hash pass above — each container is
    scanned once per Arrow batch for all its candidate containees; small
    groups and short containers fall back to a per-pair C ``str.find``
    (exact either way)."""
    from deduplipy_spark.operators.pairs import with_pair_sides

    joined = with_pair_sides(candidates, files, [content_col], id_col)

    def verify(batch: pd.DataFrame) -> pd.DataFrame:
        rows = _full_containment_rows(
            batch["id_1"].tolist(), batch["id_2"].tolist(),
            batch[f"{content_col}_1"].tolist(),
            batch[f"{content_col}_2"].tolist())
        return pd.DataFrame(rows, columns=["id_1", "id_2", "containment"])

    def run(batches):
        for b in batches:
            yield verify(b)

    return joined.mapInPandas(run, "id_1 long, id_2 long, containment double")


def prefix_band_keys(files: DataFrame, k: int = 64,
                     id_col: str = "file_id",
                     content_col: str = "content") -> DataFrame:
    """Blocking for containment: a contained file shares its first k chars
    with some substring of the container — block on hashed k-prefixes of the
    shorter side vs a sliding sample of the longer side is the general
    scheme; here we emit the practical variant (whole-file k-prefix +
    k-suffix keys), catching prepend/append-style containment."""
    t = F.coalesce(F.col(content_col), F.lit(""))
    return files.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                F.xxhash64(F.substring(t, 1, k), F.lit("pre")),
                F.xxhash64(F.substring(t, -k, k), F.lit("suf")),
            )
        ).alias("band_key"),
    ).where(F.length(t) > 0)
