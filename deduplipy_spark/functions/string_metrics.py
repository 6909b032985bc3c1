"""String similarity metrics — parity module for the reference's scorer.

Reference: ``deduplipy/string_metrics/string_metrics.py:6-77`` —
``length_adjustment = 1 - exp(-0.2*min(len))`` damping times a thefuzz
ratio. thefuzz is absent in this env; its pure-Python backend is
``difflib.SequenceMatcher`` (stdlib), and we re-derive its public ratio
semantics on top of that:

- ``ratio``: round(100 * SequenceMatcher.ratio)   (Indel similarity)
- ``token_sort_ratio``: ratio over space-joined sorted tokens
- ``token_set_ratio``: max over the three sorted-intersection combinations
- ``partial_ratio``: best ratio of the shorter string vs any equal-length
  substring window of the longer (via matching blocks, as thefuzz does)

In the engine these are OPTIONAL (the north rule replaces pair scoring with
MinHash-estimated Jaccard); they exist for users migrating reference
configs. Execution: vectorized pandas UDFs (Arrow batches) — never
row-at-a-time ``udf``.
"""

from __future__ import annotations

from difflib import SequenceMatcher

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


# ---------------------------------------------------------------------------
# scalar reimplementations (driver/UDF side)
# ---------------------------------------------------------------------------


def _ratio(a: str, b: str) -> int:
    if not a and not b:
        return 100
    return int(round(100 * SequenceMatcher(None, a, b).ratio()))


def _token_sort(s: str) -> str:
    return " ".join(sorted(s.split()))


def _token_sort_ratio(a: str, b: str) -> int:
    return _ratio(_token_sort(a), _token_sort(b))


def _token_set_ratio(a: str, b: str) -> int:
    ta, tb = set(a.split()), set(b.split())
    inter = " ".join(sorted(ta & tb))
    s1 = (inter + " " + " ".join(sorted(ta - tb))).strip()
    s2 = (inter + " " + " ".join(sorted(tb - ta))).strip()
    return max(_ratio(inter, s1), _ratio(inter, s2), _ratio(s1, s2))


def _partial_ratio(a: str, b: str) -> int:
    if len(a) > len(b):
        a, b = b, a
    if not a:
        return 100 if not b else 0
    sm = SequenceMatcher(None, a, b)
    best = 0.0
    for block in sm.get_matching_blocks():
        start = max(block.b - block.a, 0)
        window = b[start : start + len(a)]
        r = SequenceMatcher(None, a, window).ratio()
        if r > best:
            best = r
            if best == 1.0:
                break
    return int(round(100 * best))


def length_adjustment(x_1: str, x_2: str) -> float:
    import math

    return 1 - math.exp(-0.2 * min(len(x_1), len(x_2)))


def adjusted_ratio(x_1: str, x_2: str) -> float:
    return length_adjustment(x_1, x_2) * _ratio(x_1, x_2)


def adjusted_token_sort_ratio(x_1: str, x_2: str) -> float:
    return length_adjustment(x_1, x_2) * _token_sort_ratio(x_1, x_2)


def adjusted_token_set_ratio(x_1: str, x_2: str) -> float:
    return length_adjustment(x_1, x_2) * _token_set_ratio(x_1, x_2)


def adjusted_partial_ratio(x_1: str, x_2: str) -> float:
    return length_adjustment(x_1, x_2) * _partial_ratio(x_1, x_2)


ALL_METRICS = [adjusted_ratio, adjusted_token_sort_ratio, adjusted_token_set_ratio,
               adjusted_partial_ratio]


# ---------------------------------------------------------------------------
# vectorized UDF factory: metric name -> pandas_udf(double)
# ---------------------------------------------------------------------------

_SCALARS = {
    "adjusted_ratio": adjusted_ratio,
    "adjusted_token_sort_ratio": adjusted_token_sort_ratio,
    "adjusted_token_set_ratio": adjusted_token_set_ratio,
    "adjusted_partial_ratio": adjusted_partial_ratio,
}


def make_metric_udf(name: str):
    fn = _SCALARS[name]

    @pandas_udf("double")
    def metric(x1: pd.Series, x2: pd.Series) -> pd.Series:
        return pd.Series(
            [fn(a if isinstance(a, str) else "", b if isinstance(b, str) else "")
             for a, b in zip(x1, x2)]
        )

    return metric


def similarities_col(pair_df, col_names: list[str], metrics=None):
    """Assemble the reference's `similarities` feature vector
    (deduplicator.py:112-122): array of metric values per (col, metric).

    `metrics` is either a list of metric names applied to EVERY column, or
    a {col: [metric names]} mapping (the documented field_info shape —
    per-field metric lists, mirroring the reference's per-field callables).
    Feature order is column-major (col_names order, then that column's
    metric list) in fit and predict alike."""
    metrics = metrics or ["adjusted_ratio"]
    per_col = (metrics if isinstance(metrics, dict)
               else {c: metrics for c in col_names})
    cols = []
    for c in col_names:
        for m in per_col[c]:
            cols.append(make_metric_udf(m)(F.col(f"{c}_1"), F.col(f"{c}_2")))
    return F.array(*cols)


def wrap_metric(fn, name: str | None = None):
    """User-pluggable custom metric (reference: `field_info` callables,
    deduplicator.py:30-33) -> vectorized pandas UDF. The callable takes
    (str, str) -> float and runs Arrow-batched, never row-at-a-time."""

    @pandas_udf("double")
    def metric(x1: pd.Series, x2: pd.Series) -> pd.Series:
        return pd.Series(
            [float(fn(a if isinstance(a, str) else "",
                      b if isinstance(b, str) else ""))
             for a, b in zip(x1, x2)]
        )

    return metric
