"""Demo dataset loaders."""

import pytest

from deduplipy_spark.sources.datasets import load_data


def test_voters_loader_contract(spark):
    df = load_data(spark, "voters")
    assert df.columns == ["name", "suburb", "postcode"]
    assert df.count() == 1746
    # deterministic across calls
    a = df.toPandas()
    b = load_data(spark, "voters").toPandas()
    assert a.equals(b)


def test_stoxx_and_dispatch(spark):
    df = load_data(spark, "stoxx50")
    assert df.columns == ["name"]
    assert df.count() == 45
    with pytest.raises(ValueError):
        load_data(spark, "nope")

