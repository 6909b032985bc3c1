"""Deduplicator — the reference's user-facing API, Spark-native.

Mirrors ``deduplipy/deduplicator/deduplicator.py`` so a reference user can
switch with minimal change:

    reference:  Deduplicator(col_names=['name']).fit(df).predict(df)
    ours:       Deduplicator(col_names=['name']).fit(sdf, labeler=fn).predict(sdf)

The fit journey (reference ``deduplicator.py:124-147``) is fully wired:
mixed pair sampling (50/50 MinHash/naive, ``:92-110``) → string-metric
featurization (``:112-122``) → active learning with uncertainty sampling and
synthetic-perfect pretraining (``active_learning.py:125-189``) driven by a
PROGRAMMATIC labeler callable (the console y/n loop stays available with
``labeler=None``) → pseudo-labeling the sample (``:142``) → greedy-set-cover
blocking-rule selection on the POSITIVE pairs (``blocking.py:37-78``).

``predict`` then uses everything fit learned:
- with a trained classifier: the reference's own predict flow
  (``deduplicator.py:167-213``) — learned-rule blocking, string-metric
  features, classifier scores (as a pure Column expression — no Python at
  predict scale), exact-equality override, threshold filter, connected
  components, per-component HAC, singleton backfill.
- without fit: the MinHash/LSH threshold engine (plans/pipeline.py), with
  any learned rules' band keys UNIONED into the LSH bands.

Other deliberate differences (per the north rule):
- ``fit`` is OPTIONAL — the default scorer is MinHash-estimated Jaccard.
- cluster ids are ``min(file_id)`` of the duplicate group, not an
  order-dependent counter (SURVEY §1.3.5: compare partitions, not labels).
- Exact duplicates collapse via a hash pre-pass rather than
  ``drop_duplicates`` — multiplicity is preserved in the output.
- persistence is JSON (config + rules + classifier params), not pickle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.plans.pipeline import DedupPipeline

# EngineConfig fields removed because only one value of each ever ran: saved
# models still carry them, and load accepts exactly that value
REMOVED_CONFIG = {
    "minhash_scheme": "oph",
    "hot_band_star": True,
    "simhash_bits": 64,
    "simhash_band_bits": 16,
    "softimpute_convergence": 0.01,
    "max_cc_rounds": 50,
}


class Deduplicator:
    def __init__(
        self,
        col_names: list[str] | None = None,
        config: EngineConfig | None = None,
        field_info: dict[str, list[str]] | None = None,
        interaction: bool = False,
        verbose: int = 0,
    ) -> None:
        """field_info: {col -> list of metric NAMES} (reference passes
        callables, deduplicator.py:30-33; names here so the model is JSON-
        serializable — custom callables go through functions.string_metrics.
        wrap_metric on the similarities stage directly)."""
        self.col_names = col_names or ["content"]
        self.cfg = config or EngineConfig(
            id_cols=tuple(self.col_names), content_col=self.col_names[0]
        )
        self.field_info = field_info or {c: ["adjusted_ratio"] for c in self.col_names}
        self.interaction = interaction
        self.rules_selected: list | None = None
        self.model_params: dict | None = None
        self.learner = None
        self.verbose = verbose
        # pipeline of the most recent predict(): kept so the NEXT predict
        # releases its persisted stage caches (per-instance lifecycle, same
        # contract as DedupPipeline.run — without this every predict() on a
        # fresh pipeline strands its caches for the session lifetime)
        self._pipeline = None

    # ------------------------------------------------------------------
    # fit
    # ------------------------------------------------------------------
    def fit(self, X: DataFrame | None = None, y=None, labeler=None,
            n_samples: int = 10_000) -> "Deduplicator":
        """Two modes, dispatched on the input shape:

        - RECORDS DataFrame (+ `labeler` callable): the reference's full fit
          journey — sample pairs, featurize, active-learn a classifier, then
          learn blocking rules from its positive predictions.
          `labeler(record_1: dict, record_2: dict)` returns 'y'/'n'/'s'/'f'.
        - PAIRS DataFrame (`{col}_1`/`{col}_2` columns) + optional `y`
          (a 'match' 0/1 column name present in X, or a list of labels):
          rule learning only. Rules are selected to cover the POSITIVE
          pairs; if `y` is given, negatives are filtered out first —
          passing unlabeled pairs treats ALL of them as positives.
        """
        if X is None:
            return self
        pair_cols = {f"{c}_1" for c in self.col_names}
        if pair_cols.issubset(set(X.columns)):
            return self._fit_rules_from_pairs(X, y)
        return self._fit_active(X, labeler, n_samples)

    def _fit_rules_from_pairs(self, pairs: DataFrame, y=None) -> "Deduplicator":
        from deduplipy_spark.operators.set_cover import select_rules

        if y is not None:
            if isinstance(y, str):
                pairs = pairs.where(F.col(y) == 1)
            elif isinstance(y, (list, tuple)):
                import pandas as pd

                pdf = pairs.toPandas()
                pdf = pdf[pd.Series(list(y), index=pdf.index) == 1]
                pairs = pairs.sparkSession.createDataFrame(pdf)
            else:
                raise TypeError(
                    "y must be a column name or a list of 0/1 labels; "
                    "rules are learned on positives only (blocking.py:37-66)"
                )
        if "pair_idx" not in pairs.columns:
            pairs = pairs.withColumn(
                "pair_idx",
                F.xxhash64(*[F.col(f"{c}_1") for c in self.col_names],
                           *[F.col(f"{c}_2") for c in self.col_names]),
            )
        self.rules_selected = select_rules(pairs, self.col_names)
        return self

    def _fit_active(self, X: DataFrame, labeler, n_samples: int) -> "Deduplicator":
        """mixed_sample -> similarities -> active learner -> pseudo-label ->
        set-cover rules (reference deduplicator.py:124-147)."""
        from deduplipy_spark.functions.string_metrics import similarities_col
        from deduplipy_spark.operators.active_learning import ActivePairLearner
        from deduplipy_spark.operators.sampling import mixed_sample

        pairs = mixed_sample(X, self.cfg, self.col_names, n_samples=n_samples)
        # per-column metric lists (field_info is {col: [metric names]});
        # feature order is column-major and identical in _predict_learned
        feats = pairs.withColumn(
            "similarities",
            similarities_col(pairs, self.col_names, self.field_info),
        )
        sample_pdf = feats.toPandas()     # <= n_samples rows: driver-sized
        learner = ActivePairLearner(self.col_names, labeler=labeler,
                                    verbose=self.verbose,
                                    interaction=self.interaction)
        learner.fit(sample_pdf)
        self.learner = learner
        self.model_params = learner.model.params() if learner.model.fitted else None
        if self.verbose:
            print("active learning finished")

        # pseudo-label the sample with the classifier, learn rules on the
        # predicted POSITIVES (deduplicator.py:141-144)
        if self.model_params is not None:
            import numpy as np

            sims = np.asarray(sample_pdf["similarities"].tolist(), dtype=float)
            y_pred = learner.predict(sims)
            positives = sample_pdf[y_pred == 1]
            if len(positives):
                spark = X.sparkSession
                pos_sdf = spark.createDataFrame(
                    positives[[f"{c}_{s}" for c in self.col_names for s in (1, 2)]]
                )
                self._fit_rules_from_pairs(pos_sdf)
                if self.verbose:
                    print(f"blocking rules found: {self.rules_selected}")
        return self

    # ------------------------------------------------------------------
    # predict
    # ------------------------------------------------------------------
    def predict(self, X: DataFrame, score_threshold: float | None = None,
                cluster_threshold: float | None = None,
                fill_missing: bool | None = None) -> DataFrame:
        import dataclasses

        cfg = self.cfg
        overrides = {}
        if score_threshold is not None:
            overrides["score_threshold"] = score_threshold
        if cluster_threshold is not None:
            overrides["cluster_threshold"] = cluster_threshold
        if fill_missing is not None:
            overrides["fill_missing"] = fill_missing
        if overrides:
            cfg = dataclasses.replace(cfg, **overrides)
        if self._pipeline is not None:
            self._pipeline.close()   # previous predict's result recomputes
        self._pipeline = DedupPipeline(
            X.sparkSession, cfg, rules_selected=self.rules_selected)
        if self.model_params is not None:
            return self._predict_learned(X, cfg)
        out = self._pipeline.run(X)
        return out.withColumnRenamed("cluster_id", "deduplication_id")

    def _predict_learned(self, X: DataFrame, cfg: EngineConfig) -> DataFrame:
        """The reference's classifier predict flow (deduplicator.py:167-213),
        distributed: learned-rule blocking -> featurize -> Column-expression
        classifier scores -> exact override -> threshold -> CC -> HAC ->
        singleton backfill. Cluster ids are min(file_id) per cluster.

        Scope note: this path featurizes with the reference's string-metric
        family (difflib ratio is O(len^2) PER PAIR) — right for short-record
        entity matching (names/addresses, the reference's domain). For long
        code/document content, use the default MinHash threshold engine
        (don't fit a classifier), which never compares raw strings pairwise.
        """
        from deduplipy_spark.functions.string_metrics import similarities_col
        from deduplipy_spark.ids import file_id_col
        from deduplipy_spark.operators.active_learning import score_expr
        from deduplipy_spark.operators.blocking import rule_blocker_from_selected
        from deduplipy_spark.operators.pairs import with_pair_sides

        if not self.rules_selected:
            raise RuntimeError("fit() learned no blocking rules; cannot block")
        ident = X.withColumn("file_id", file_id_col(tuple(self.col_names)))
        # distinct-rows contract (deduplicator.py:183): identical tuples share
        # file_id (hash of all matching columns) — pair over one rep each
        recs = ident.dropDuplicates(["file_id"])
        blocker = rule_blocker_from_selected(self.rules_selected)
        pairs = with_pair_sides(blocker.pairs(recs, cfg), recs,
                                self.col_names)
        feats = pairs.withColumn(
            "similarities",
            similarities_col(pairs, self.col_names, self.field_info),
        )
        all_equal = None
        for c in self.col_names:   # exact-equality override (deduplicator.py:195-197)
            eq = F.col(f"{c}_1").eqNullSafe(F.col(f"{c}_2"))
            all_equal = eq if all_equal is None else (all_equal & eq)
        scored = (
            feats.withColumn(
                "score",
                F.when(all_equal, F.lit(1.0)).otherwise(score_expr(self.model_params)),
            )
            .where(F.col("score") >= cfg.score_threshold)
            .select("id_1", "id_2", "score")
        )
        # consumed by CC + HAC: cut it, then the same tail as run()
        pipe = self._pipeline
        clusters = pipe.cluster(pipe._cut(scored))
        out = ident.join(
            clusters.select(F.col("id").alias("file_id"),
                            F.col("cluster_id").alias("_nd")),
            "file_id", "left",
        )
        # singleton backfill (deduplicator.py:149-165), id = own file_id
        return out.withColumn(
            "deduplication_id", F.coalesce("_nd", "file_id")
        ).drop("_nd")

    # -- persistence: the reference pickles the whole model (its notebooks);
    # ours is JSON (config + rules + classifier) — rerunnable anywhere ------
    def save(self, path: str) -> None:
        import dataclasses
        import json

        with open(path, "w") as f:
            json.dump(
                {
                    "col_names": self.col_names,
                    "config": dataclasses.asdict(self.cfg),
                    "rules_selected": self.rules_selected,
                    "field_info": self.field_info,
                    "interaction": self.interaction,
                    "model_params": self.model_params,
                    "config_hash": self.cfg.config_hash(),
                },
                f, indent=2, default=str,
            )

    @classmethod
    def load(cls, path: str) -> "Deduplicator":
        import json

        with open(path) as f:
            blob = json.load(f)
        c = blob["config"]
        c["id_cols"] = tuple(c["id_cols"])
        # models saved before the shuffle_partitions and driver_cc_max_edges
        # fields were removed still carry them; neither entered the hash
        c.pop("shuffle_partitions", None)
        c.pop("driver_cc_max_edges", None)
        # ... and models saved while num_perm was a field carry it; it is
        # now bands*rows_per_band, the only value the field ever allowed
        num_perm = c.pop("num_perm", None)
        # models saved while the strategy was a Deduplicator attribute
        # carry it at the top level
        c.setdefault("pair_strategy", blob.get("pair_strategy", "capped"))
        # ... and the single-value fields: any other value names a model
        # this engine cannot reproduce
        for key, only in REMOVED_CONFIG.items():
            v = c.pop(key, only)
            if v != only:
                raise ValueError(
                    f"{path}: config {key}={v!r} is no longer supported "
                    f"(only {only!r} is); refit the model")
        cfg = EngineConfig(**c)
        if num_perm is not None and num_perm != cfg.num_perm:
            raise ValueError(
                f"{path}: saved config num_perm {num_perm!r} must equal "
                f"bands*rows_per_band ({cfg.num_perm}); refit the model")
        dd = cls(col_names=blob["col_names"], config=cfg,
                 field_info=blob.get("field_info"),
                 interaction=bool(blob.get("interaction", False)))
        dd.rules_selected = (
            [tuple(r) for r in blob["rules_selected"]]
            if blob.get("rules_selected") else None
        )
        dd.model_params = blob.get("model_params")
        return dd
