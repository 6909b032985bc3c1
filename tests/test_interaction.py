"""Interaction-feature parity (reference classifier_pipeline.py:22-27) and
the 'p' (previous) re-label protocol (reference active_learning.py:76,89-93).
"""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from deduplipy_spark.operators.active_learning import (
    ActivePairLearner,
    NumpyLogit,
    interaction_terms,
    score_expr,
)


def _xor_data(n=400, seed=7):
    """Linearly inseparable without the z1*z2 product: y = [z1*z2 > 0]."""
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 2))
    y = (X[:, 0] * X[:, 1] > 0).astype(int)
    return X, y


def test_interaction_terms_shape_and_values():
    Z = np.array([[1.0, 2.0, 3.0], [0.0, -1.0, 2.0]])
    E = interaction_terms(Z)
    assert E.shape == (2, 6)               # d + C(d,2) = 3 + 3
    np.testing.assert_allclose(E[0], [1, 2, 3, 2, 3, 6])
    np.testing.assert_allclose(E[1], [0, -1, 2, 0, 0, -2])


def test_interaction_changes_fit_and_separates_xor():
    X, y = _xor_data()
    plain = NumpyLogit().fit(X, y)
    inter = NumpyLogit(interaction=True).fit(X, y)
    acc_plain = (plain.predict(X) == y).mean()
    acc_inter = (inter.predict(X) == y).mean()
    assert acc_inter > 0.95                # the product feature nails XOR
    assert acc_plain < 0.7                 # linear model cannot
    # the interaction model has d + C(d,2) coefficients, not d
    assert len(inter.coef_) == 3 and len(plain.coef_) == 2
    # the learned product coefficient dominates
    assert abs(inter.coef_[2]) > abs(inter.coef_[0])
    assert abs(inter.coef_[2]) > abs(inter.coef_[1])


def test_score_expr_matches_numpy_interaction(spark):
    X, y = _xor_data(n=200)
    m = NumpyLogit(interaction=True).fit(X, y)
    want = m.predict_proba(X)[:, 1]
    pdf = pd.DataFrame({"similarities": [list(r) for r in X]})
    sdf = spark.createDataFrame(pdf)
    got = np.array(
        [r[0] for r in
         sdf.select(score_expr(m.params()).alias("s")).toPandas().itertuples(
             index=False)]
    )
    np.testing.assert_allclose(got, want, atol=1e-9)


def test_score_expr_rejects_mismatched_coef():
    p = {"mean": [0.0, 0.0], "std": [1.0, 1.0], "coef": [1.0, 1.0],
         "intercept": 0.0, "interaction": True}   # needs 3 coefs
    with pytest.raises(ValueError, match="coefficients"):
        score_expr(p)


def _pairs_frame(sims, labels_by_rec=None):
    n = len(sims)
    return pd.DataFrame({
        "name_1": [f"a{i}" for i in range(n)],
        "name_2": [f"b{i}" for i in range(n)],
        "similarities": [list(s) for s in sims],
        "synthetic_perfect_match": [False] * n,
    })


def test_previous_relabel_changes_model():
    """mislabel -> 'p' -> relabel: the training set label is REPLACED and
    the refit model differs from the mislabeled one."""
    rng = np.random.default_rng(3)
    sims = np.vstack([rng.uniform(0.8, 1.0, size=(20, 1)),
                      rng.uniform(0.0, 0.2, size=(20, 1))])
    truth = {}

    def run(with_correction: bool):
        answers = []

        def labeler(r1, r2):
            i = len(answers)
            # first answer WRONG on purpose; then optionally p + correction
            if with_correction and i == 1:
                answers.append("p")
                return "p"
            # after a 'p', the learner re-prompts on the previous pair
            if with_correction and i == 2:
                answers.append("y")
                return "y"          # corrected label
            if i >= 12:
                return "f"
            ans = "n" if i == 0 else ("y" if float(r1_sim(r1)) > 0.5 else "n")
            answers.append(ans)
            return ans

        def r1_sim(rec):
            # labeler only sees records; recover the sim via the name index
            idx = int(rec["name"][1:])
            return sims[idx][0]

        learner = ActivePairLearner(["name"], labeler=labeler,
                                    min_nr_entries=100)   # no early converge
        pairs = _pairs_frame(sims)
        pairs["name_1"] = [f"a{i}" for i in range(len(sims))]
        pairs["name_2"] = [f"a{i}" for i in range(len(sims))]
        learner.fit(pairs)
        return learner

    # uncertainty sampling starts at the first pair (index 0, sim~high).
    wrong = run(with_correction=False)
    fixed = run(with_correction=True)
    # the corrected run flipped the first label from n(0) to y(1)
    assert wrong._y[0] == 0
    assert fixed._y[0] == 1
    # and the fitted models genuinely differ
    assert not np.allclose(
        wrong.model.coef_ if wrong.model.fitted else [0],
        fixed.model.coef_ if fixed.model.fitted else [1],
    )


def test_previous_with_no_history_is_noop():
    calls = []

    def labeler(r1, r2):
        calls.append(1)
        if len(calls) == 1:
            return "p"              # nothing labeled yet
        return "f"

    learner = ActivePairLearner(["name"], labeler=labeler)
    sims = np.array([[0.5], [0.6]])
    learner.fit(_pairs_frame(sims))
    assert learner._y == [] and learner._prev is None
