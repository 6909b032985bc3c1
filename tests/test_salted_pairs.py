"""Salted exact pair generation: equivalence + skew-split guarantees.

The north rule asks for "salted repartitioning on LSH band keys with
skew-aware splitting of hot bands". `candidate_pairs` answers it with a
bounded-output cap + star edges (right for clustering); `salted_pairs` is
the literal reading — EXACT pair enumeration whose per-task work stays
bounded because a hot band's membership is triangle-split across
(band_key, block_i, block_j) cells before any aggregation.
"""
import random
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.operators.blocking import RuleBlocker
from deduplipy_spark.operators.pairs import candidate_pairs, salted_pairs

UNCAPPED = EngineConfig(band_cap=100_000)


def _pairset(df):
    return {(r.id_1, r.id_2) for r in df.collect()}


def test_salted_equals_uncapped_on_random_bands(spark):
    """Every block size yields exactly the uncapped generator's pair set —
    including block=1, where NO two members of a band ever share a
    diagonal cell and every pair comes from a cross cell."""
    rng = random.Random("salted-pairs-equivalence")
    rows = []
    for b in range(15):
        m = rng.choice([1, 1, 2, 3, 5, 20, 47])
        rows += [(b, i) for i in rng.sample(range(10_000), m)]
    rows += rows[:9]   # duplicated band rows: the non-assume_distinct path
    bands = spark.createDataFrame(rows, "band_key int, id long")
    ref = _pairset(candidate_pairs(bands, UNCAPPED))
    for block in (1, 3, 16, 1000):
        got = _pairset(salted_pairs(bands, UNCAPPED, block=block))
        assert got == ref, f"block={block}"
    # string band keys split identically
    sbands = bands.select(F.col("band_key").cast("string").alias("band_key"),
                          "id")
    assert _pairset(salted_pairs(sbands, UNCAPPED, block=3)) == ref


def test_salted_hot_band_exact_and_split(spark):
    """A single 1,000-member hot band: all C(1000,2) pairs materialize, and
    the aggregation that generates them is keyed on (band_key, bi, bj) —
    the salt IS in the shuffle key, so the band's quadratic work spreads
    over ceil(1000/50)^2/2 = 210 independent cells instead of one task."""
    bands = spark.range(1_000).select(
        F.lit(7).alias("band_key"), F.col("id"))
    pairs = salted_pairs(bands, UNCAPPED, block=50, assume_distinct=True)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the salt must reach a SHUFFLE, not just the aggregation keys: without
    # the explicit repartition Catalyst proves hashpartitioning(band_key)
    # satisfies the (band_key, bi, bj) grouping and elides the exchange,
    # leaving every cell of the hot band on one task
    import re

    assert re.search(
        r"hashpartitioning\([^)]*bi#\d+, bj#\d+[^)]*\), REPARTITION_BY_COL",
        plan), plan[:2000]
    assert pairs.count() == 1_000 * 999 // 2
    # spot-check canonical ordering on a sample
    sample = pairs.limit(500).collect()
    assert all(r.id_1 < r.id_2 for r in sample)


def test_salted_block_validation():
    with pytest.raises(ValueError):
        salted_pairs(None, UNCAPPED, block=0)


# 24 docs in 4 small groups plus one 6-doc group, all sharing "alpha beta "
# (a 30-member rule band and winnow band, far past band_cap=4)
_DOCS = ([(i, f"alpha beta {i % 4}") for i in range(24)]
         + [(100 + i, "alpha beta shared tail") for i in range(6)])


def _rule_pairs(spark, cfg):
    docs = spark.createDataFrame(_DOCS, "file_id long, content string")
    return _pairset(RuleBlocker().pairs(docs, cfg))


def _winnow_pairs(spark, cfg):
    from deduplipy_spark.operators.winnow import winnow_candidate_pairs

    docs = spark.createDataFrame(_DOCS, "file_id long, content string")
    return _pairset(winnow_candidate_pairs(docs, cfg))


def _pipeline_candidates_and_clusters(spark, cfg):
    from deduplipy_spark.plans import pipeline
    from deduplipy_spark.sources.datagen import gen_files

    # clusters of 25: their bands overflow band_cap=4
    files = gen_files(spark, 200, 4, 25, partitions=4)
    made = []

    def recording(*args, **kw):
        made.append(candidate_pairs(*args, **kw))
        return made[-1]

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "candidate_pairs", recording)
        out = pipeline.DedupPipeline(spark, cfg).run(files).select(
            "file_id", "cluster_id").toPandas()
    return _pairset(made[0]), dict(zip(out.file_id, out.cluster_id))


@pytest.mark.parametrize("produce", [_pipeline_candidates_and_clusters,
                                     _rule_pairs, _winnow_pairs],
                         ids=["pipeline", "rule_blocker", "winnow"])
def test_producer_honours_pair_strategy(spark, produce):
    """Every pair producer reads the strategy from its EngineConfig: under
    'exact' an aggressive band_cap=4 gives the uncapped result (for the
    pipeline: the same candidate table, so the same clusters). band_cap=4
    drops pairs from every one of these inputs, so a producer that ignored
    the field would fail here."""
    assert produce(spark, EngineConfig(band_cap=4, pair_strategy="exact")) \
        == produce(spark, UNCAPPED)


def test_pair_strategy_validated_and_hashed():
    with pytest.raises(ValueError, match="pair_strategy"):
        EngineConfig(pair_strategy="bogus")
    # checkpoint separation: exact runs must never resume capped stages
    assert (EngineConfig(pair_strategy="exact").config_hash()
            != EngineConfig().config_hash())


def test_salted_matches_itertools_truth_across_shapes(spark):
    """30 seeded random band tables of diverse shapes (empty-ish, singleton,
    clique, duplicates, overlapping membership) batched into ONE job via
    disjoint id ranges, verified against itertools.combinations ground
    truth computed independently in Python."""
    import itertools
    import random

    rng = random.Random("salted-shapes")
    rows, truth = [], set()
    for case in range(30):
        base = case * 100_000
        bands: dict[int, list[int]] = {}
        for b in range(rng.randrange(1, 6)):
            m = rng.choice([1, 1, 2, 2, 3, 4, 9, 30])
            ids = [base + i for i in rng.sample(range(1000), m)]
            if rng.random() < 0.3 and ids:
                ids.append(ids[0])          # duplicate band row
            bands[b] = ids
        for b, ids in bands.items():
            rows += [(f"{case}:{b}", i) for i in ids]
            for x, y in itertools.combinations(sorted(set(ids)), 2):
                truth.add((x, y))
    df = spark.createDataFrame(rows, "band_key string, id long")
    got = _pairset(salted_pairs(df, UNCAPPED, block=2))
    assert got == truth


def test_deduplicator_pair_strategy_round_trips(tmp_path):
    """The strategy round-trips inside the saved config; a model saved
    when it was a top-level Deduplicator key still loads it."""
    import json

    from deduplipy_spark.deduplicator import Deduplicator

    cfg = EngineConfig(id_cols=("content",), pair_strategy="exact")
    dd = Deduplicator(["content"], config=cfg)
    path = tmp_path / "model.json"
    dd.save(str(path))
    assert Deduplicator.load(str(path)).cfg == cfg

    blob = json.loads(path.read_text())
    del blob["config"]["pair_strategy"]
    blob["pair_strategy"] = "exact"
    path.write_text(json.dumps(blob))
    assert Deduplicator.load(str(path)).cfg.pair_strategy == "exact"


def test_rule_blocker_exact_strategy(spark):
    docs = spark.createDataFrame(_DOCS, "file_id long, content string")
    blocker = RuleBlocker()
    capped = _pairset(blocker.pairs(docs, UNCAPPED))
    exact = _pairset(blocker.pairs(
        docs, replace(UNCAPPED, pair_strategy="exact"), block=2))
    assert exact == capped
