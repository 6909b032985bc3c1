"""Pair scoring: signature-estimated Jaccard.

Replaces the reference's learned string-metric scorer
(``deduplipy/deduplicator/deduplicator.py:112-122,192-197``): the north rule
substitutes MinHash-estimated Jaccard for the classifier probability. The
reference's exact-equality override (all fields equal ⇒ score 1.0,
``deduplicator.py:195-197``) is the sha256 pre-pass upstream of scoring.

Scale notes: candidates carry only ids; signatures join back via two equi
joins on id (sort-merge / shuffled-hash; AQE may broadcast the smaller side).
Score math is a pure Column expression (zip_with) — no Python on the pair
hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.operators.minhash import estimated_jaccard_col
from deduplipy_spark.operators.pairs import with_pair_sides


def score_pairs(candidates: DataFrame, signatures: DataFrame,
                cfg: EngineConfig) -> DataFrame:
    """(id_1, id_2, score) for pairs passing score_threshold.

    `signatures` has (file_id, sig). No exact-match override: the flagship
    pipeline's candidates pair per-sha REPRESENTATIVES, so two sides never
    share a sha — the exact class collapses in the sha pre-pass (pipeline)
    or via column equality (learned path).
    """
    scored = (
        with_pair_sides(candidates, signatures, ["sig"])
        .withColumn("score", estimated_jaccard_col())
        .select("id_1", "id_2", "score")
    )
    return scored.where(F.col("score") >= F.lit(cfg.score_threshold))


def score_histogram(scored: DataFrame, bin_width: float = 0.05) -> DataFrame:
    """Score diagnostics histogram (active_learning.py:97-109: np.histogram
    with bins 0..1 step 0.05) as a groupBy — (bin_low, n) rows."""
    nbins = int(round(1.0 / bin_width))
    b = F.least(F.floor(F.col("score") / bin_width), F.lit(nbins - 1))
    return (
        scored.groupBy(F.round(b * bin_width, 6).cast("double").alias("bin_low"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin_low")
    )
