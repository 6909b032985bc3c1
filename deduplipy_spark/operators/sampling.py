"""Fit-time pair samplers (SURVEY §2.8).

Spark-first re-expressions of the reference's samplers, used to assemble a
labeled-candidate training sample:

- NaiveSampler (``deduplipy/sampling/naive_sampling.py:26-61``): sample
  ~1.1*sqrt(2n) rows, bounded cross join, canonicalize ids, prepend
  `n_perfect_matches` synthetic self-pairs flagged `synthetic_perfect_match`.
- MinHashSampler (``deduplipy/sampling/minhash_sampling.py:22-137``): MinHash
  similarity over candidate pairs, stratified into 10 jaccard buckets
  (``pd.cut`` ≡ floor(sim*10)) with per-bucket top-k, topped up with a seeded
  shuffle of the remainder (`orderBy(rand(seed))` ≡ `sample(frac=1)` + head).

All sampling is seeded and keyed by stable ids — deterministic under any
parallelism (SURVEY §4.3 determinism rule).
"""

from __future__ import annotations

import math
from dataclasses import replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.operators.minhash import band_keys, with_signatures
from deduplipy_spark.operators.pairs import candidate_pairs, with_pair_sides
from deduplipy_spark.operators.scoring import score_pairs


def perfect_match_pairs(df: DataFrame, cols: list[str], n: int) -> DataFrame:
    """n synthetic self-pairs (x_1 == x_2), flagged (naive_sampling.py:51-55)."""
    sel = [F.col(c).alias(f"{c}_1") for c in cols] + [
        F.col(c).alias(f"{c}_2") for c in cols
    ]
    return (
        df.orderBy(*cols).limit(n).select(*sel)
        .withColumn("synthetic_perfect_match", F.lit(True))
    )


def naive_sample(df: DataFrame, cols: list[str], n_samples: int,
                 n_perfect_matches: int = 3, seed: int = 42) -> DataFrame:
    """Bounded random cross join + synthetic perfect matches.

    Row sample size ~= 1.1*sqrt(2*n_samples) (naive_sampling.py:40) keeps the
    cross join ~n_samples pairs — the crossJoin is bounded, never n^2.
    """
    n_rows = df.count()
    sample_size = min(n_rows, int(1.1 * math.sqrt(2 * n_samples)) + 1)
    # deterministic "random" subset: order by a seeded hash of the key cols
    # (exact size, reproducible at any parallelism — df.sample() is neither)
    rows = (
        df.withColumn("_sid", F.xxhash64(*cols, F.lit(seed)))
        .orderBy("_sid")
        .limit(sample_size)
    )
    a = rows.select(F.col("_sid").alias("_sid_1"),
                    *[F.col(c).alias(f"{c}_1") for c in cols])
    b = rows.select(F.col("_sid").alias("_sid_2"),
                    *[F.col(c).alias(f"{c}_2") for c in cols])
    pairs = (
        a.crossJoin(b)
        .where(F.col("_sid_1") < F.col("_sid_2"))     # canonical, no self-pairs
        .drop("_sid_1", "_sid_2")
        .withColumn("synthetic_perfect_match", F.lit(False))
        .orderBy(*[f"{c}_1" for c in cols], *[f"{c}_2" for c in cols])
        .limit(n_samples - n_perfect_matches)
    )
    return perfect_match_pairs(df, cols, n_perfect_matches).unionByName(pairs)


def minhash_sample(df: DataFrame, cfg: EngineConfig, n_samples: int,
                   min_sim: float = 0.2, seed: int = 42,
                   id_cols: tuple[str, ...] | None = None) -> DataFrame:
    """Stratified MinHash-similar pairs: 10 jaccard buckets, k per bucket,
    topped up by a seeded shuffle (minhash_sampling.py:70-112)."""
    from deduplipy_spark.ids import with_identity
    from deduplipy_spark.partitioning import ensure_parallelism

    # narrow signature UDF: don't pin a single-split local input to one
    # python worker (output is parallelism-deterministic: signatures,
    # candidate ranks and both samplers key on row content/ids only)
    ident = ensure_parallelism(with_identity(df, id_cols or cfg.id_cols,
                                             cfg.content_col))
    sigs = with_signatures(ident, cfg)
    cands = candidate_pairs(band_keys(sigs, cfg), cfg)
    scored = score_pairs(cands, sigs, replace(cfg, score_threshold=min_sim)
                         ).withColumnRenamed("score", "jaccard_sim")
    # stratify into 10 buckets (pd.cut(..., bins=10) over [min_sim, 1])
    scored = scored.withColumn(
        "bucket",
        F.least(F.lit(9), F.floor((F.col("jaccard_sim") - min_sim) / ((1.0 - min_sim) / 10))),
    )
    per_bucket = max(1, n_samples // 10)
    w = Window.partitionBy("bucket").orderBy(F.xxhash64("id_1", "id_2", F.lit(seed)))
    stratified = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= per_bucket)
        .drop("_rn")
    )
    # top-up from the remainder with a seeded global shuffle
    remainder = scored.join(stratified.select("id_1", "id_2"), ["id_1", "id_2"],
                            "left_anti")
    short = n_samples - per_bucket * 10
    topup = (
        remainder.orderBy(F.xxhash64("id_1", "id_2", F.lit(seed + 1)))
        .limit(max(short, 0))
    )
    return stratified.unionByName(topup).drop("bucket")


def mixed_sample(df: DataFrame, cfg: EngineConfig, cols: list[str],
                 n_samples: int = 10_000, n_perfect_matches: int = 3,
                 seed: int = 42, id_cols: tuple[str, ...] | None = None) -> DataFrame:
    """The reference's 50/50 sample mix (deduplicator.py:92-110): half
    MinHash-similar pairs, half naive random pairs, topped up and
    deduplicated. Returns `{col}_1/{col}_2` pairs + synthetic_perfect_match.
    """
    from deduplipy_spark.ids import with_identity

    half = n_samples // 2
    mh_ids = minhash_sample(df, cfg, half, seed=seed, id_cols=id_cols)
    ident = with_identity(df, id_cols or cfg.id_cols, cfg.content_col)
    mh = (with_pair_sides(mh_ids, ident, cols)
          .drop("id_1", "id_2", "jaccard_sim")
          .withColumn("synthetic_perfect_match", F.lit(False)))
    # top up with naive pairs to reach n_samples (reference: deduplicator.py:103-108)
    n_mh = mh.count()
    naive = naive_sample(df, cols, n_samples - n_mh, n_perfect_matches, seed)
    return naive.unionByName(mh).dropDuplicates(
        [f"{c}_1" for c in cols] + [f"{c}_2" for c in cols]
    )
