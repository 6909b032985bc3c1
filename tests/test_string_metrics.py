"""Reference string-metric vectors (tests/test_string_metrics) + UDF path."""

import numpy as np
import pytest

from deduplipy_spark.functions.string_metrics import (
    ALL_METRICS,
    adjusted_partial_ratio,
    adjusted_ratio,
    length_adjustment,
    make_metric_udf,
    similarities_col,
)


def test_length_adjustment_vectors():
    assert length_adjustment("", "") == 0
    assert length_adjustment("", "aaaaaaaaaaaaaaaa") == 0
    assert length_adjustment("aaaaaaaaaaaaaaaa", "") == 0
    np.testing.assert_approx_equal(
        length_adjustment("a" * 32, "a" * 32), 1, significant=2
    )


@pytest.mark.parametrize("metric", ALL_METRICS)
def test_adjusted_metric_vectors(metric):
    assert metric("", "") == 0
    assert metric("", "aaaaaaaaaaaaaaaa") == 0
    assert metric("aaaaaaaaaaaaaaaa", "") == 0
    np.testing.assert_approx_equal(metric("a" * 32, "a" * 32), 100, significant=2)


def test_partial_ratio_substring():
    # substring containment: partial ratio ~100 before adjustment
    long = "the quick brown fox jumps over the lazy dog" * 2
    assert adjusted_partial_ratio("quick brown fox", long) > 90
    assert adjusted_ratio("quick brown fox", long) < 50


def test_metric_udf_and_similarities(spark):
    rows = [("frits", "frits h"), ("stan", "stein"), ("", "x")]
    df = spark.createDataFrame(rows, "name_1 string, name_2 string")
    out = df.select(
        make_metric_udf("adjusted_ratio")("name_1", "name_2").alias("m"),
        similarities_col(df, ["name"], ["adjusted_ratio",
                                        "adjusted_token_sort_ratio"]).alias("sims"),
    ).toPandas()
    local = [adjusted_ratio(a, b) for a, b in rows]
    np.testing.assert_allclose(out.m.values, local, rtol=1e-9)
    assert all(len(s) == 2 for s in out.sims)
