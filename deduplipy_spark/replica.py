"""Single-node reference replica of the engine's dedup semantics.

Purpose: an INDEPENDENT re-execution of the block->score->cluster contract
(python dicts + union-find + the numpy kernels, no Spark dataflow) used to

1. validate the distributed pipeline in pytest (recall/precision vs this
   replica at identical shingle/signature config — the BASELINE.json gate),
2. derive the pinned goldens for the driver queries that have no ANSI-SQL
   oracle (scripts/make_goldens.py), so the CORRECTNESS gate is anchored
   OUTSIDE the system under test rather than pinning the pipeline's own
   output.

Shared numeric kernels (per-doc shingling and one-permutation MinHash,
scalar SimHash, the numpy HAC) are imported from the engine — those are
themselves validated against the reference's fixtures and scalar
implementations in tests; what the replica deliberately does NOT share is
any Spark plan: banding, pair generation, scoring, components and cluster
assignment are re-executed with plain python/numpy.

The reference itself cannot run in this env (scipy/fancyimpute/modAL absent
— SURVEY §7); this replica stands in for it at identical config.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.operators.agglomerate import hierarchical_cluster_component
from deduplipy_spark.operators.minhash import (
    oph_signature_of_hashes,
    shingle_hashes_raw,
    truncate_sig,
)


def _signature(text: str | None, cfg: EngineConfig) -> np.ndarray:
    """Per-doc scalar signature, truncated to uint32 slots as the engine
    stores them."""
    return truncate_sig(oph_signature_of_hashes(
        shingle_hashes_raw(text or "", cfg.shingle_k), cfg.num_perm,
        cfg.minhash_seed))


def replica_clusters(pdf: pd.DataFrame, cfg: EngineConfig,
                     id_of_idx: dict[int, int]) -> dict[int, int]:
    """Single-node block->score->cluster at identical config.

    `pdf` needs (row_idx, content); node ids = the engine's deterministic
    file_ids (same labels as the Spark run): with quantized MinHash scores,
    HAC tie-breaking is order-sensitive, so comparing the distributed
    dataflow against single-node semantics requires identical node ordering
    — exactly the "identical config" proviso of the north rule. Returns
    {file_id: cluster_id}.
    """
    pdf = pdf.copy()
    pdf["fid"] = pdf.row_idx.map(id_of_idx)
    pdf["sha"] = pdf.content.map(
        lambda s: hashlib.sha256((s or "").encode()).hexdigest())
    reps = pdf.groupby("sha", as_index=False).agg(rep=("fid", "min"))
    rep_rows = pdf.merge(reps, left_on="sha", right_on="sha")
    rep_only = rep_rows[rep_rows.fid == rep_rows.rep]

    sigs = {int(r.fid): _signature(r.content, cfg)
            for r in rep_only.itertuples()}
    scored = replica_scored_pairs(sigs, cfg)

    # union-find components
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in scored:
        a1, b1 = find(p[0]), find(p[1])
        if a1 != b1:
            parent[max(a1, b1)] = min(a1, b1)
    comps: dict[int, list[int]] = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)

    clusters: dict[int, int] = {}
    for root, nodes in comps.items():
        nodes = np.array(sorted(nodes))
        nodeset = set(nodes)
        own = [(a, b, s) for (a, b), s in scored.items()
               if a in nodeset and b in nodeset]
        ids = np.array([p[:2] for p in own], dtype=np.int64)
        labels = hierarchical_cluster_component(
            nodes, (ids[:, 0], ids[:, 1], np.array([p[2] for p in own])),
            cfg.cluster_threshold, cfg.fill_missing)
        for n, l in zip(nodes, labels):
            clusters[int(n)] = int(l)
    # singleton reps
    for rid in sigs:
        clusters.setdefault(rid, rid)
    # exact members inherit their rep's cluster
    out = {}
    rep_by_fid = rep_rows.set_index("fid").rep.to_dict()
    for fid, rep in rep_by_fid.items():
        out[int(fid)] = clusters[int(rep)]
    return out


def _banded_pairs(band_lists: dict, cap: int) -> set[tuple[int, int]]:
    """Capped all-pairs + star-overflow semantics of operators/pairs.py,
    single-node."""
    pairs: set[tuple[int, int]] = set()
    for ids in band_lists.values():
        ids = sorted(ids)
        head = ids[:cap]
        for i in range(len(head)):
            for j in range(i + 1, len(head)):
                pairs.add((head[i], head[j]))
        for y in ids[cap:]:
            pairs.add((ids[0], y))
    return pairs


def replica_scored_pairs(sigs: dict[int, np.ndarray],
                         cfg: EngineConfig) -> dict[tuple[int, int], float]:
    """Banding by band-slice tuple (same grouping semantics as the hashed
    key), capped pair-gen, estimated-Jaccard scoring, threshold."""
    buckets: dict[tuple, list[int]] = {}
    for rid, sig in sigs.items():
        for j in range(cfg.bands):
            key = (j, tuple(sig[j * cfg.rows_per_band:(j + 1) * cfg.rows_per_band]))
            buckets.setdefault(key, []).append(rid)
    pairs = _banded_pairs(buckets, cfg.band_cap)
    scored = {p: float((sigs[p[0]] == sigs[p[1]]).mean()) for p in pairs}
    return {p: s for p, s in scored.items() if s >= cfg.score_threshold}


def replica_simhash_pairs(contents: dict[int, str], cfg: EngineConfig,
                          max_hamming: int = 10) -> pd.DataFrame:
    """Scalar-SimHash pair table: per-doc FNV-1a token SimHash (the scalar
    path, bit-identical to the batch kernel by tests/test_simhash_ngram.py),
    4x16-bit band blocking with the same cap/star semantics, hamming verify.
    Returns (id_1, id_2, hamming) sorted."""
    from deduplipy_spark.operators.simhash import SIMHASH_BAND_BITS, SIMHASH_BITS
    from deduplipy_spark.operators.simhash import _token_hashes, simhash_of_hashes

    sh = {i: simhash_of_hashes(_token_hashes(t or "")) & ((1 << 64) - 1)
          for i, t in contents.items()}
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    mask = (1 << SIMHASH_BAND_BITS) - 1
    buckets: dict[tuple, list[int]] = {}
    for i, h in sh.items():
        for j in range(n_bands):
            buckets.setdefault(
                (j, (h >> (j * SIMHASH_BAND_BITS)) & mask), []).append(i)
    pairs = _banded_pairs(buckets, cfg.band_cap)
    rows = []
    for a, b in pairs:
        d = bin(sh[a] ^ sh[b]).count("1")
        if d <= max_hamming:
            rows.append((a, b, d))
    return (pd.DataFrame(rows, columns=["id_1", "id_2", "hamming"])
            .sort_values(["id_1", "id_2"], ignore_index=True))


def replica_minhash_sample(contents: dict[int, str], cfg: EngineConfig,
                           n_samples: int, min_sim: float,
                           hash64_batch) -> pd.DataFrame:
    """Stratified MinHash pair sampler (operators/sampling.minhash_sample),
    single-node: scalar signatures, dict banding, estimated Jaccard,
    10-bucket stratification ordered by xxhash64(id_1, id_2, seed).

    `hash64_batch(pairs, seed) -> sequence[int]` supplies xxhash64 (the
    sampler's seeded shuffle key); the caller passes an evaluator for it —
    the hash is a LABELING/ordering function here, not dataflow."""
    sigs = {i: _signature(t, cfg) for i, t in contents.items()}
    scored = {
        p: s for p, s in replica_scored_pairs(sigs, cfg).items() if s >= min_sim
    }
    rows = pd.DataFrame(
        [(p[0], p[1], s) for p, s in scored.items()],
        columns=["id_1", "id_2", "jaccard_sim"],
    )
    if not len(rows):
        return rows
    width = (1.0 - min_sim) / 10
    rows["bucket"] = np.minimum(
        9, np.floor((rows["jaccard_sim"] - min_sim) / width)).astype(int)
    seed = 42
    pairs = list(zip(rows.id_1, rows.id_2))
    rows["h"] = list(hash64_batch(pairs, seed))
    per_bucket = max(1, n_samples // 10)
    strat = (rows.sort_values(["bucket", "h"])
             .groupby("bucket").head(per_bucket))
    short = n_samples - per_bucket * 10
    if short > 0:
        rest = rows.loc[~rows.index.isin(strat.index)].copy()
        rest["h2"] = list(hash64_batch(list(zip(rest.id_1, rest.id_2)),
                                       seed + 1))
        strat = pd.concat([strat, rest.sort_values("h2").head(short)])
    return (strat[["id_1", "id_2", "jaccard_sim"]]
            .sort_values(["id_1", "id_2"], ignore_index=True))
