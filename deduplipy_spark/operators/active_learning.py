"""Active-learning fit journey — the reference's headline UX, batch-safe.

Reference: ``deduplipy/active_learning/active_learning.py`` drives an
interactive console loop (y/n/p/s/f prompts, ``:68-95``) around modAL
uncertainty sampling with a sklearn ``StandardScaler -> LogisticRegression
(class_weight='balanced')`` pipeline (``classifier_pipeline.py:21-52``),
pre-taught on synthetic perfect matches (``active_learning.py:125-141``),
with convergence monitoring (uncertainty < 0.1 OR max improvement over the
last 5 queries < 0.01 after >= 10 labels — ``active_learning.py:53-66,
174-181``; constants ``config.py:3,6-9``).

This module reproduces that journey with a PROGRAMMATIC labeler (any
callable ``(record_1: dict, record_2: dict) -> 'y'|'n'|'s'|'f'``) so the fit
path is testable and automatable; passing ``labeler=None`` falls back to the
reference's console prompts verbatim. Differences, both deliberate:

- modAL/sklearn are absent in this environment, so the estimator is a
  ~40-line numpy IRLS logistic regression with standardization and balanced
  class weights — same semantics (single-class fit is a no-op, matching
  ``classifier_pipeline.py:47-52``), deterministic.
- With a programmatic labeler, convergence AUTO-finishes the loop (the
  reference prints "enter 'f' to stop" and waits for a human;
  a callable has no console to read).

The learned model exports plain (mean, std, coef, intercept) so scoring runs
JVM-side as a Column expression over the `similarities` array — the trained
scorer never needs Python at predict scale (see ``score_expr``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# reference deduplipy/config.py:3,6-9
N_QUERIES = 999
MIN_NR_ENTRIES = 10
UNCERTAINTY_IMPROVEMENT_THRESHOLD = 0.01
UNCERTAINTY_THRESHOLD = 0.1


def input_assert(value: str, choices: list[str]) -> str:
    """Validator for labeler/console responses (re-derivation of
    ``utils_active_learning.py:4-20``): lowercases and enforces membership.
    Console mode re-prompts; programmatic mode raises (a callable returning
    garbage would loop forever)."""
    out = value.lower()
    if out not in choices:
        raise ValueError(
            f"Wrong input! Your input should be one of the following: "
            f"{', '.join(choices)}"
        )
    return out


def _console_labeler(rec_1: dict, rec_2: dict) -> str:
    """The reference's interactive prompt (active_learning.py:68-95)."""
    print("Is this a match? (y)es, (n)o, (p)revious, (s)kip, (f)inish")
    print("->", rec_1)
    print("->", rec_2)
    while True:
        try:
            return input_assert(input(""), ["y", "n", "p", "s", "f"])
        except ValueError as e:
            print(e)


def interaction_terms(Z: np.ndarray) -> np.ndarray:
    """Degree-2 interaction expansion of standardized features: [Z, z_i*z_j
    for i<j] — PolynomialFeatures(degree=2, interaction_only=True) applied
    AFTER scaling, the reference's interaction pipeline order
    (classifier_pipeline.py:22-27; its include_bias constant column is
    dropped — the intercept already covers it and is never penalized)."""
    iu, ju = np.triu_indices(Z.shape[1], k=1)
    return np.hstack([Z, Z[:, iu] * Z[:, ju]])


class NumpyLogit:
    """StandardScaler + balanced logistic regression, numpy-only.

    interaction=False: IRLS (Newton) with a small L2 ridge for conditioning.
    interaction=True mirrors the reference's alternate pipeline
    (classifier_pipeline.py:22-27): scale -> degree-2 interaction-only
    expansion -> L1 logistic regression (prox-gradient/FISTA stands in for
    saga; both solve the same convex objective, deterministically here).
    Both variants keep the no-op fit on single-class y
    (classifier_pipeline.py:47-52). Adequate for the <=10k x few-features
    active-learning sample."""

    def __init__(self, l2: float = 1.0, max_iter: int = 50, tol: float = 1e-8,
                 interaction: bool = False, l1: float = 1.0):
        self.l2 = l2
        self.l1 = l1                        # sklearn C=1.0 -> lambda = 1/C
        self.max_iter = max_iter
        self.tol = tol
        self.interaction = interaction
        self.mean_: np.ndarray | None = None
        self.std_: np.ndarray | None = None
        self.coef_: np.ndarray | None = None
        self.intercept_: float = 0.0
        self.fitted = False

    def _features(self, X: np.ndarray) -> np.ndarray:
        Z = (np.asarray(X, dtype=float) - self.mean_) / self.std_
        return interaction_terms(Z) if self.interaction else Z

    def fit(self, X: np.ndarray, y: np.ndarray) -> "NumpyLogit":
        X = np.asarray(X, dtype=float)
        y = np.asarray(y, dtype=float)
        if len(set(y.tolist())) == 1:
            return self                     # single-class: no-op fit
        self.mean_ = X.mean(axis=0)
        self.std_ = X.std(axis=0)
        self.std_[self.std_ == 0] = 1.0
        Z = self._features(X)
        n, d = Z.shape
        # class_weight='balanced': w_c = n / (k * n_c)
        pos = y.sum()
        w = np.where(y == 1, n / (2.0 * pos), n / (2.0 * (n - pos)))
        Zb = np.hstack([Z, np.ones((n, 1))])
        if self.interaction:
            beta = self._fit_l1(Zb, y, w, d)
        else:
            beta = self._fit_irls(Zb, y, w, d)
        self.coef_ = beta[:d]
        self.intercept_ = float(beta[d])
        self.fitted = True
        return self

    def _fit_irls(self, Zb, y, w, d) -> np.ndarray:
        beta = np.zeros(d + 1)
        ridge = np.eye(d + 1) * self.l2
        ridge[d, d] = 0.0                   # don't penalize the intercept
        for _ in range(self.max_iter):
            p = 1.0 / (1.0 + np.exp(-Zb @ beta))
            g = Zb.T @ (w * (y - p)) - ridge @ beta
            s = np.maximum(w * p * (1 - p), 1e-10)
            H = (Zb * s[:, None]).T @ Zb + ridge
            step = np.linalg.solve(H, g)
            beta += step
            if np.abs(step).max() < self.tol:
                break
        return beta

    def _fit_l1(self, Zb, y, w, d, iters: int = 2000) -> np.ndarray:
        """FISTA on  sum_i w_i * logloss_i(beta) + l1 * ||beta[:d]||_1
        (intercept unpenalized) — the sklearn L1/saga objective with C=1/l1,
        solved deterministically (no stochastic passes)."""
        # Lipschitz constant of the weighted-logistic gradient
        L = 0.25 * np.linalg.norm(Zb * np.sqrt(w)[:, None], 2) ** 2
        step = 1.0 / max(L, 1e-12)
        beta = np.zeros(d + 1)
        vel = beta.copy()
        t = 1.0
        for _ in range(iters):
            p = 1.0 / (1.0 + np.exp(-Zb @ vel))
            g = Zb.T @ (w * (p - y))
            raw = vel - step * g
            new = raw.copy()
            new[:d] = np.sign(raw[:d]) * np.maximum(
                np.abs(raw[:d]) - step * self.l1, 0.0)   # soft-threshold
            t_new = (1.0 + np.sqrt(1.0 + 4.0 * t * t)) / 2.0
            vel = new + ((t - 1.0) / t_new) * (new - beta)
            if np.abs(new - beta).max() < self.tol:
                beta = new
                break
            beta, t = new, t_new
        return beta

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        if not self.fitted:
            raise RuntimeError("fit() with two classes first")
        Z = self._features(X)
        p1 = 1.0 / (1.0 + np.exp(-(Z @ self.coef_ + self.intercept_)))
        return np.stack([1 - p1, p1], axis=1)

    def predict(self, X: np.ndarray) -> np.ndarray:
        return (self.predict_proba(X)[:, 1] >= 0.5).astype(int)

    def params(self) -> dict:
        return {
            "mean": self.mean_.tolist(),
            "std": self.std_.tolist(),
            "coef": self.coef_.tolist(),
            "intercept": self.intercept_,
            "interaction": self.interaction,
        }


def score_expr(params: dict, sim_col: str = "similarities") -> Column:
    """sigmoid(intercept + coef . features) as a pure Column expression —
    the learned scorer runs inside codegen, no UDF. features = standardized
    similarities, plus their pairwise products when the model was fit with
    interaction=True (same order as interaction_terms)."""
    coef, mean, std = params["coef"], params["mean"], params["std"]
    zs = [
        (F.element_at(F.col(sim_col), i + 1) - F.lit(float(m))) / F.lit(float(s))
        for i, (m, s) in enumerate(zip(mean, std))
    ]
    feats = list(zs)
    if params.get("interaction"):
        d = len(zs)
        feats += [zs[i] * zs[j] for i in range(d) for j in range(i + 1, d)]
    if len(coef) != len(feats):
        raise ValueError(
            f"model has {len(coef)} coefficients but {len(feats)} features "
            f"(interaction={params.get('interaction', False)})"
        )
    z = F.lit(float(params["intercept"]))
    for c, f in zip(coef, feats):
        z = z + F.lit(float(c)) * f
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


class ActivePairLearner:
    """Uncertainty-sampling labeling loop over a collected pair sample.

    fit() input: pandas DataFrame with `{col}_1`/`{col}_2` per col,
    `similarities` (list of metric values) and `synthetic_perfect_match`
    (bool) — the same table the reference feeds modAL
    (deduplicator.py:135-137)."""

    def __init__(self, col_names: list[str], labeler=None,
                 uncertainty_threshold: float = UNCERTAINTY_THRESHOLD,
                 uncertainty_improvement_threshold: float = UNCERTAINTY_IMPROVEMENT_THRESHOLD,
                 min_nr_entries: int = MIN_NR_ENTRIES,
                 n_queries: int = N_QUERIES, verbose: int = 0,
                 interaction: bool = False) -> None:
        self.col_names = col_names
        self.labeler = labeler or _console_labeler
        self.auto_finish = labeler is not None
        self.uncertainty_threshold = uncertainty_threshold
        self.uncertainty_improvement_threshold = uncertainty_improvement_threshold
        self.min_nr_entries = min_nr_entries
        self.n_queries = n_queries
        self.verbose = verbose
        self.model = NumpyLogit(interaction=interaction)
        self.uncertainties: list[float] = []
        self.counter_total = 0
        self.counter_positive = 0
        self.counter_negative = 0
        self._X: list[list[float]] = []
        self._y: list[int] = []
        # previous HUMAN-labeled pair: (index into _X/_y, rec_1, rec_2) —
        # supports the 'p' (previous) re-label protocol
        self._prev: tuple[int, dict, dict] | None = None

    # reference active_learning.py:53-66
    def _last_uncertainty_improvement(self, last_n: int = 5) -> float | None:
        u = np.asarray(self.uncertainties)
        if len(u) >= last_n + 1:
            return float(np.abs(u[1:] - u[:-1])[-last_n:].max())
        return None

    def _teach(self, sims: list[float], label: int) -> None:
        self._X.append(list(sims))
        self._y.append(int(label))
        self.model.fit(np.asarray(self._X), np.asarray(self._y))

    def fit(self, pairs: pd.DataFrame) -> "ActivePairLearner":
        pairs = pairs.reset_index(drop=True)
        # synthetic-perfect pretraining (active_learning.py:125-141)
        synth = pairs[pairs["synthetic_perfect_match"]]
        for sims in synth["similarities"]:
            self._X.append(list(sims))
            self._y.append(1)
        if len(self._X):
            self.model.fit(np.asarray(self._X), np.asarray(self._y))
        X = pairs[~pairs["synthetic_perfect_match"]].reset_index(drop=True)
        sim_matrix = np.asarray(X["similarities"].tolist(), dtype=float)
        remaining = list(range(len(X)))
        cols_1 = [f"{c}_1" for c in self.col_names]
        cols_2 = [f"{c}_2" for c in self.col_names]
        for _ in range(self.n_queries):
            if not remaining:
                break
            # uncertainty sampling: most uncertain = proba closest to 0.5;
            # before the model has both classes, take the first candidate
            # (modAL's strategy also starts effectively arbitrary)
            if self.model.fitted:
                p = self.model.predict_proba(sim_matrix[remaining])[:, 1]
                qpos = int(np.argmin(np.abs(p - 0.5)))
                uncertainty = 1.0 - max(p[qpos], 1 - p[qpos])
                self.uncertainties.append(float(uncertainty))
            else:
                qpos, uncertainty = 0, None
            qidx = remaining[qpos]
            row = X.iloc[qidx]
            rec_1 = dict(zip(self.col_names, row[cols_1].tolist()))
            rec_2 = dict(zip(self.col_names, row[cols_2].tolist()))
            answer = input_assert(
                str(self.labeler(rec_1, rec_2)),
                ["y", "n", "p", "s", "f", "1", "0"],
            )
            if answer == "f":
                break
            if answer == "p":
                # re-label the PREVIOUS pair (reference active_learning.py:
                # 76,89-93,163). Deliberate divergence: the reference's loop
                # teaches the CURRENT similarities with the previous pair's
                # corrected label (active_learning.py:164-166) — we REPLACE
                # the previous pair's label in the training set and refit,
                # then re-present the current pair. Mislabel -> 'p' ->
                # relabel therefore actually corrects the model.
                if self._prev is None:
                    continue                # nothing to go back to
                pidx, prec_1, prec_2 = self._prev
                try:
                    redo = input_assert(
                        str(self.labeler(prec_1, prec_2)), ["y", "n", "1", "0"]
                    )
                except ValueError:
                    # the console labeler advertises (and validates) its full
                    # y/n/p/s/f set, but only y/n/1/0 are meaningful at the
                    # re-label prompt — p/s/f here means "keep the existing
                    # label", not a crash that loses the labeling session
                    continue
                new_label = 1 if redo in ("y", "1") else 0
                old_label = self._y[pidx]
                if new_label != old_label:
                    self._y[pidx] = new_label
                    self.counter_positive += 1 if new_label else -1
                    self.counter_negative += -1 if new_label else 1
                    self.model.fit(np.asarray(self._X), np.asarray(self._y))
                continue                    # current pair is asked again
            remaining.pop(qpos)
            if answer != "s":
                label = 1 if answer in ("y", "1") else 0
                self._teach(list(row["similarities"]), label)
                self._prev = (len(self._y) - 1, rec_1, rec_2)
                if label == 1:
                    self.counter_positive += 1
                else:
                    self.counter_negative += 1
            self.counter_total += 1
            if self.verbose >= 2 and self.model.fitted and remaining:
                p_all = self.model.predict_proba(sim_matrix[remaining])
                print(f"lowest score: {1 - p_all[:, 0].max():.2f}")
                print(f"highest score: {p_all[:, 1].max():.2f}")
            # convergence monitor (active_learning.py:174-181)
            imp = self._last_uncertainty_improvement()
            if (self.counter_total >= self.min_nr_entries and imp is not None
                    and uncertainty is not None):
                converged = (uncertainty < self.uncertainty_threshold) or (
                    imp < self.uncertainty_improvement_threshold
                )
                if converged:
                    if self.verbose:
                        print(f"Classifier converged (uncertainty "
                              f"{uncertainty:.3f}, improvement {imp:.3f})")
                    if self.auto_finish:
                        break
        if self.verbose and self.model.fitted:
            self._print_score_histogram(
                np.vstack([np.asarray(self._X, dtype=float),
                           sim_matrix[remaining]])
                if remaining else np.asarray(self._X, dtype=float)
            )
        return self

    def _print_score_histogram(self, sims: np.ndarray) -> None:
        """End-of-fit score histogram over training + remaining pairs
        (reference active_learning.py:97-109,187-188): bins 0..1 step .05."""
        probas = self.model.predict_proba(sims)[:, 1]
        count, division = np.histogram(probas, bins=np.arange(0, 1.01, 0.05))
        hist = pd.DataFrame({"score": division[1:], "count": count})
        print(hist.to_string(index=False))

    def predict(self, sims) -> np.ndarray:
        return self.model.predict(np.asarray(list(sims), dtype=float))

    def predict_proba(self, sims) -> np.ndarray:
        return self.model.predict_proba(np.asarray(list(sims), dtype=float))
