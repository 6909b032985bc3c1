"""F5 set-cover vectors (verbatim from reference tests) + F6 sampler contracts."""

import pytest

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.operators.sampling import minhash_sample, naive_sample
from deduplipy_spark.operators.set_cover import greedy_set_cover, select_rules


def test_greedy_set_cover_base_case():
    subsets = [[0, 1, 2, 3], [1, 2], [1, 4]]
    parent_set = {0, 1, 2, 3, 4}
    assert greedy_set_cover(subsets, parent_set) == [{0, 1, 2, 3}, {1, 4}]


def test_greedy_set_cover_recall():
    subsets = [[0, 1, 2, 3], [1, 2], [1, 4]]
    parent_set = {0, 1, 2, 3, 4}
    assert greedy_set_cover(subsets, parent_set, recall=0.8) == [{0, 1, 2, 3}]


def test_select_rules_blocking_fixture(spark):
    # F4 labeled pairs: the fit surface of Blocking (test_blocking.py:8-15)
    pairs = spark.createDataFrame(
        [
            (0, "frits", "frits h"),
            (1, "frank", "frank h"),
            (2, "ahmet", "ahmet"),
            (3, "fred", "frederik"),
        ],
        "pair_idx long, name_1 string, name_2 string",
    )
    chosen = select_rules(pairs, ["name"], recall=1.0)
    assert chosen, "must select at least one rule"
    # every positive pair must be covered by the chosen rules jointly
    from deduplipy_spark.functions.blocking_rules import ALL_RULES
    from deduplipy_spark.operators.set_cover import rule_coverage

    cov = rule_coverage(pairs, ["name"])
    idx_of = {(c, i): c_i for c_i, (c, i) in
              enumerate((col, j) for col in ["name"] for j in range(len(ALL_RULES)))}
    covered = set()
    for col, j in chosen:
        covered |= cov.get(idx_of[(col, j)], set())
    assert covered == {0, 1, 2, 3}


def test_naive_sample_contract(spark):
    from deduplipy_spark.sources.datagen import gen_files

    df = gen_files(spark, 200, 20, partitions=4).select("repo", "path", "content")
    out = naive_sample(df, ["repo", "path"], n_samples=50, n_perfect_matches=3)
    pdf = out.toPandas()
    assert len(pdf) == 50
    assert pdf.synthetic_perfect_match.sum() == 3
    pm = pdf[pdf.synthetic_perfect_match]
    assert (pm.repo_1 == pm.repo_2).all() and (pm.path_1 == pm.path_2).all()
    assert set(pdf.columns) == {"repo_1", "path_1", "repo_2", "path_2",
                                "synthetic_perfect_match"}


def test_minhash_sample_contract(spark):
    from deduplipy_spark.sources.datagen import gen_files

    cfg = EngineConfig()
    df = gen_files(spark, 300, 30, partitions=4)
    out = minhash_sample(df, cfg, n_samples=40).toPandas()
    # size within +-10% unless the corpus has too few similar pairs
    assert 0 < len(out) <= 44
    assert (out.jaccard_sim >= 0.2).all()
    assert not out.duplicated(["id_1", "id_2"]).any()
    # deterministic
    out2 = minhash_sample(df, cfg, n_samples=40).toPandas()
    assert set(zip(out.id_1, out.id_2)) == set(zip(out2.id_1, out2.id_2))
