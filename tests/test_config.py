"""EngineConfig validation (no Spark session)."""

import pytest

from deduplipy_spark.config import EngineConfig


@pytest.mark.parametrize("field, kw", [
    ("shingle_k", {"shingle_k": 0}),
    ("shingle_k", {"shingle_k": -3}),
    ("band_cap", {"band_cap": 0}),
    ("max_hac_size", {"max_hac_size": 0}),
    ("bands", {"bands": 0, "num_perm": 0}),
    ("rows_per_band", {"rows_per_band": 0, "num_perm": 0}),
])
def test_non_positive_sizes_rejected(field, kw):
    """A size below 1 is refused, naming the field: shingle_k <= 0 would
    give every non-empty text the same signature, and bands=0, num_perm=0
    passed the bands*rows_per_band == num_perm check."""
    with pytest.raises(ValueError, match=field):
        EngineConfig(**kw)
