"""The Arrow slot-agreement scoring kernel of `score_pairs` against the
Column form it replaced (`estimated_jaccard_col`, kept here as the oracle):
scores must be bit-identical and the same rows must pass the threshold."""

from dataclasses import replace

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.operators.pairs import with_pair_sides
from deduplipy_spark.operators.scoring import score_pairs, slot_agreement_scores

# exactly representable as k/64 and k/128, so a pair can sit on it
THRESHOLD = 0.3125


def estimated_jaccard_col(sig1: str = "sig_1", sig2: str = "sig_2"):
    """Fraction of equal signature slots as a Column expression
    (zip_with + filter + size): the form score_pairs used before."""
    eq = F.filter(
        F.zip_with(F.col(sig1), F.col(sig2), lambda x, y: (x == y).cast("int")),
        lambda v: v == 1,
    )
    return F.size(eq) / F.size(F.col(sig1))


def oracle_score_pairs(candidates, signatures, cfg):
    return (
        with_pair_sides(candidates, signatures, ["sig"])
        .withColumn("score", estimated_jaccard_col())
        .select("id_1", "id_2", "score")
        .where(F.col("score") >= F.lit(cfg.score_threshold))
    )


def _signatures(num_perm, n_files, seed):
    """Mutated copies of a few base signatures over a 4-value alphabet, so
    pair scores spread over [0, 1]; plus three fixed rows: 0 (all zeros),
    1 (agrees with 0 on exactly THRESHOLD of its slots) and 2 (null)."""
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 4, (n_files // 10, num_perm), dtype=np.int32)
    sigs = base[rng.integers(0, base.shape[0], n_files)]
    flip = rng.random((n_files, num_perm)) < rng.random((n_files, 1))
    sigs = np.where(flip, rng.integers(0, 4, sigs.shape), sigs)
    at = np.ones(num_perm, dtype=np.int32)
    at[: int(THRESHOLD * num_perm)] = 0
    rows = [(0, [0] * num_perm), (1, at.tolist()), (2, None)]
    rows += [(i + 3, s.tolist()) for i, s in enumerate(sigs)]
    return rows


@pytest.mark.parametrize("bands, rows_per_band", [(16, 4), (16, 8)])
def test_kernel_matches_zip_with_oracle(spark, bands, rows_per_band):
    cfg = replace(EngineConfig(bands=bands, rows_per_band=rows_per_band),
                  score_threshold=THRESHOLD)
    n_files, n_pairs = 3000, 12000
    sigs = spark.createDataFrame(_signatures(cfg.num_perm, n_files, seed=bands),
                                 "file_id long, sig array<int>")
    rng = np.random.default_rng(7)
    a = rng.integers(3, n_files + 3, n_pairs)
    b = rng.integers(3, n_files + 3, n_pairs)
    pairs = {(int(min(x, y)), int(max(x, y))) for x, y in zip(a, b) if x != y}
    pairs |= {(0, 1), (0, 2), (2, 3)}
    # one partition: the kernel's task sees more rows than one Arrow batch
    # holds (spark.sql.execution.arrow.maxRecordsPerBatch = 10000)
    cands = spark.createDataFrame(sorted(pairs), "id_1 long, id_2 long") \
        .coalesce(1)
    assert len(pairs) > 10000

    got = score_pairs(cands, sigs, cfg).toPandas() \
        .sort_values(["id_1", "id_2"]).reset_index(drop=True)
    want = oracle_score_pairs(cands, sigs, cfg).toPandas() \
        .sort_values(["id_1", "id_2"]).reset_index(drop=True)
    assert got.dtypes.tolist() == want.dtypes.tolist()
    assert got.equals(want)                    # bit-identical scores
    keyed = dict(zip(zip(got.id_1, got.id_2), got.score))
    assert keyed[(0, 1)] == THRESHOLD          # kept at the threshold
    assert (0, 2) not in keyed and (2, 3) not in keyed   # null signature
    assert 0 < len(got) < len(pairs)


def _batch(sig_1, sig_2):
    n = len(sig_1)
    lists = pa.list_(pa.int32())
    return pa.RecordBatch.from_arrays(
        [pa.array(range(n), pa.int64()), pa.array(range(n, 2 * n), pa.int64()),
         pa.array(sig_1, lists), pa.array(sig_2, lists)],
        names=["id_1", "id_2", "sig_1", "sig_2"])


def test_kernel_reads_sliced_batches():
    """A batch that is a slice of a larger one (non-zero offsets[0]) scores
    its own rows, not the start of the shared values buffer."""
    rng = np.random.default_rng(3)
    s1 = rng.integers(0, 2, (50, 8)).tolist()
    s2 = rng.integers(0, 2, (50, 8)).tolist()
    want = (np.array(s1) == np.array(s2)).sum(1) / 8
    for lo in (0, 1, 17):
        [out] = slot_agreement_scores(iter([_batch(s1, s2).slice(lo, 20)]),
                                      8, 0.0)
        assert out.column("id_1").to_pylist() == list(range(lo, lo + 20))
        assert out.column("score").to_numpy().tolist() == \
            want[lo:lo + 20].tolist()


def test_kernel_rejects_wrong_width():
    batch = _batch([[1] * 128, [2] * 127], [[1] * 128, [2] * 127])
    with pytest.raises(ValueError, match=r"127.*128"):
        list(slot_agreement_scores(iter([batch]), 128, 0.1))
