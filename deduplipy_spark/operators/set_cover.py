"""Greedy set cover + distributed blocking-rule selection.

Re-derivation of the reference's rule learner:
- ``greedy_set_cover`` (``deduplipy/blocking/set_cover.py:5-64``): lazy-greedy
  heap over candidate subsets until `recall` of the universe is covered.
  Driver-side by nature (universe = labeled matches, thousands at most).
- ``Blocking.fit`` (``deduplipy/blocking/blocking.py:37-78``): evaluates every
  (column, rule) on labeled pairs — a pair is covered when the rule fires
  non-null AND equal on both sides. Distributed here as one projection +
  explode + groupBy(rule) collect_set(pair idx), then the greedy cover runs
  on the collected (tiny) sets.
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplipy_spark.functions.blocking_rules import ALL_RULES


def greedy_set_cover(subsets: list, parent_set: set, recall: float = 1.0) -> list[set]:
    """Pick subsets covering >= recall of parent_set; greedy by marginal gain.

    Matches the reference's outputs on its test vectors
    (tests/test_blocking/test_set_cover.py): returns the chosen subsets (as
    sets) in selection order.
    """
    parent = set(parent_set)
    target = recall * len(parent)
    subsets = [set(s) for s in subsets]
    # lazy-greedy: heap of (-|gain|, idx); re-evaluate stale entries
    heap = [(-len(s & parent), i) for i, s in enumerate(subsets)]
    heapq.heapify(heap)
    covered: set = set()
    chosen: list[set] = []
    while heap and len(covered) < target:
        neg_gain, i = heapq.heappop(heap)
        gain = len(subsets[i] - covered)
        if gain == 0:
            continue
        if -neg_gain != gain:           # stale: re-push with current gain
            heapq.heappush(heap, (-gain, i))
            continue
        chosen.append(subsets[i])
        covered |= subsets[i]
    return chosen


def rule_coverage(pairs: DataFrame, col_names: list[str]) -> dict[int, set]:
    """Distributed coverage evaluation: {rule_idx -> set of covered pair idx}.

    `pairs` columns: `{col}_1`, `{col}_2` per col in col_names, plus
    `pair_idx`. Only positive pairs should be passed (or join y first).
    A (col, rule) covers a pair when rule(col_1) == rule(col_2), both non-null
    (blocking.py:59-65).
    """
    cover_cols = []
    idx = 0
    for col in col_names:
        for rule in ALL_RULES:
            r1, r2 = rule(F.col(f"{col}_1")), rule(F.col(f"{col}_2"))
            cover_cols.append(
                F.when(r1.isNotNull() & r2.isNotNull() & (r1 == r2), F.lit(idx))
            )
            idx += 1
    exploded = pairs.select(
        "pair_idx", F.explode(F.array(*cover_cols)).alias("rule_idx")
    ).where(F.col("rule_idx").isNotNull())
    rows = (
        exploded.groupBy("rule_idx")
        .agg(F.collect_set("pair_idx").alias("covered"))
        .collect()
    )
    return {int(r["rule_idx"]): set(r["covered"]) for r in rows}


def select_rules(pairs: DataFrame, col_names: list[str],
                 recall: float = 1.0) -> list[tuple[str, int]]:
    """Full fit: coverage + greedy cover -> [(col, ALL_RULES index)]."""
    cov = rule_coverage(pairs, col_names)
    universe = set()
    for s in cov.values():
        universe |= s
    order = sorted(cov)               # deterministic subset ordering
    chosen = greedy_set_cover([cov[i] for i in order], universe, recall)
    # map chosen sets back to rule indices (first match wins)
    out = []
    used = set()
    for s in chosen:
        for i in order:
            if i not in used and cov[i] == s:
                col = col_names[i // len(ALL_RULES)]
                out.append((col, i % len(ALL_RULES)))
                used.add(i)
                break
    return out
