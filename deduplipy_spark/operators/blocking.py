"""Rule-based blocking — fingerprint melt + pair table.

Spark-first re-expression of the reference's ``Blocking`` estimator
(``deduplipy/blocking/blocking.py:80-134``): ``_fingerprint`` evaluates every
selected (column, rule) pair and melts to a long (id, fingerprint) table with
``value:rule_idx`` namespacing (``blocking.py:96-99``); ``_create_pairs_table``
self-joins on the fingerprint, canonicalizes ``id_1 < id_2`` (``:115``) and
dedups pairs (``:131``).

Here the melt is one projection: ``explode(array(struct per rule))`` — all
rules evaluated in a single pass over the scan (same trick the reference's
``df.melt`` achieves, SURVEY §3.3) — and the self-join is the same capped
band-join used by the MinHash path (operators/pairs.py), so rule blocking
and LSH blocking share one skew-guarded pair generator: RuleBlocker and the
MinHash band path both emit (id, band_key).

Fingerprints are strings here (parity with the reference's golden fixtures,
e.g. 'fri:0'); `RuleBlocker.pairs` hashes them to long band keys with
xxhash64 before the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.functions.blocking_rules import ALL_RULES
from deduplipy_spark.operators.pairs import candidate_pairs


class RuleBlocker:
    """rules_info: {column -> list of rule fns (Column -> Column)}.

    The reference learns `rules_selected` via greedy set cover at fit time
    (blocking.py:37-78 + set_cover.py); here selection is an input — see
    operators/set_cover.py for the learner.
    """

    def __init__(self, rules_info: dict[str, list] | None = None,
                 col: str = "content") -> None:
        self.rules_info = rules_info or {col: list(ALL_RULES)}

    def _rule_exprs(self) -> list[tuple[str, int, Column]]:
        out = []
        idx = 0
        for col, rules in self.rules_info.items():
            for rule in rules:
                out.append((col, idx, rule(F.col(col))))
                idx += 1
        return out

    def fingerprint(self, df: DataFrame, id_col: str = "file_id") -> DataFrame:
        """(id, fingerprint) — fingerprint = 'value:rule_idx' (blocking.py:97-98)."""
        structs = [
            F.struct(
                F.when(expr.isNotNull(), F.concat(expr, F.lit(f":{idx}"))).alias("fp")
            )
            for _, idx, expr in self._rule_exprs()
        ]
        return (
            df.select(F.col(id_col).alias("id"), F.explode(F.array(*structs)).alias("s"))
            .select("id", F.col("s.fp").alias("fingerprint"))
            .where(F.col("fingerprint").isNotNull())   # null drop, blocking.py:100
        )

    def pairs(self, df: DataFrame, cfg: EngineConfig,
              id_col: str = "file_id",
              block: int | None = None) -> DataFrame:
        """(id_1, id_2) distinct, id_1 < id_2 — via the shared pair generator
        (`cfg.pair_strategy` picks capped or exact; ``block`` sizes the
        exact path's cells)."""
        bands = self.fingerprint(df, id_col).select(
            "id", F.xxhash64("fingerprint").alias("band_key"))
        return candidate_pairs(bands, cfg, block=block)


def rule_blocker_from_selected(rules_selected: list[tuple[str, int]]) -> RuleBlocker:
    """Build a RuleBlocker from learned (col, rule_idx-within-ALL_RULES)
    selections (operators/set_cover.select_rules output / Deduplicator.fit)."""
    info: dict[str, list] = {}
    for col, idx in rules_selected:
        info.setdefault(col, []).append(ALL_RULES[int(idx)])
    return RuleBlocker(info)
