"""Pair scoring: signature-estimated Jaccard.

Replaces the reference's learned string-metric scorer
(``deduplipy/deduplicator/deduplicator.py:112-122,192-197``): the north rule
substitutes MinHash-estimated Jaccard for the classifier probability. The
reference's exact-equality override (all fields equal ⇒ score 1.0,
``deduplicator.py:195-197``) is the sha256 pre-pass upstream of scoring.

Scale notes: candidates carry only ids; signatures join back via two equi
joins on id (sort-merge / shuffled-hash; AQE may broadcast the smaller side).
The score is one numpy kernel per Arrow batch (`mapInArrow`) over the
joined rows: the signature lists are read zero-copy as (rows, num_perm)
int32 matrices. It is not a Column expression because the one that fits,
``size(filter(zip_with(...)))``, runs interpreted: ``ZipWith`` and
``ArrayFilter`` are ``CodegenFallback`` in Spark 4, so each pair would cost
2 * num_perm boxed lambda calls.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.operators.pairs import with_pair_sides


def _slots(sigs: pa.Array, num_perm: int) -> np.ndarray:
    """A list<int32> column with no nulls as a zero-copy (rows, num_perm)
    view of its values buffer; raises ValueError on any other width."""
    offsets = sigs.offsets.to_numpy()
    widths = np.diff(offsets)
    bad = widths != num_perm
    if bad.any():
        raise ValueError(
            f"signature width {int(widths[bad][0])} != num_perm {num_perm}")
    # .values ignores the array's slice offset; offsets[0] carries it
    values = sigs.values.to_numpy()[offsets[0]:offsets[-1]]
    return values.reshape(-1, num_perm)


def slot_agreement_scores(batches: Iterator[pa.RecordBatch], num_perm: int,
                          threshold: float) -> Iterator[pa.RecordBatch]:
    """(id_1, id_2, score) batches from (id_1, id_2, sig_1, sig_2) batches:
    score = equal slots / num_perm (the unbiased MinHash Jaccard estimate),
    rows below `threshold` or with a null signature dropped."""
    for batch in batches:
        s1, s2 = batch.column("sig_1"), batch.column("sig_2")
        if s1.null_count or s2.null_count:
            batch = batch.filter(pc.and_(s1.is_valid(), s2.is_valid()))
            s1, s2 = batch.column("sig_1"), batch.column("sig_2")
        score = (_slots(s1, num_perm) == _slots(s2, num_perm)).sum(axis=1) \
            / num_perm
        keep = pa.array(score >= threshold)
        yield pa.RecordBatch.from_arrays(
            [batch.column("id_1").filter(keep), batch.column("id_2").filter(keep),
             pa.array(score).filter(keep)],
            names=["id_1", "id_2", "score"])


def score_pairs(candidates: DataFrame, signatures: DataFrame,
                cfg: EngineConfig) -> DataFrame:
    """(id_1, id_2, score) for pairs passing score_threshold.

    `signatures` has (file_id, sig). No exact-match override: the flagship
    pipeline's candidates pair per-sha REPRESENTATIVES, so two sides never
    share a sha — the exact class collapses in the sha pre-pass (pipeline)
    or via column equality (learned path).
    """
    num_perm, threshold = cfg.num_perm, cfg.score_threshold
    return (
        with_pair_sides(candidates, signatures, ["sig"])
        .select("id_1", "id_2", "sig_1", "sig_2")
        .mapInArrow(
            lambda batches: slot_agreement_scores(batches, num_perm, threshold),
            "id_1 long, id_2 long, score double")
    )


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
