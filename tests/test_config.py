"""EngineConfig validation (no Spark session)."""

import pytest

from deduplipy_spark.config import EngineConfig


@pytest.mark.parametrize("field, kw", [
    ("shingle_k", {"shingle_k": 0}),
    ("shingle_k", {"shingle_k": -3}),
    ("band_cap", {"band_cap": 0}),
    ("max_hac_size", {"max_hac_size": 0}),
    ("bands", {"bands": 0}),
    ("rows_per_band", {"rows_per_band": 0}),
])
def test_non_positive_sizes_rejected(field, kw):
    """A size below 1 is refused, naming the field: shingle_k <= 0 would
    give every non-empty text the same signature, and bands=0 would give
    a signature of no slots."""
    with pytest.raises(ValueError, match=field):
        EngineConfig(**kw)


def test_num_perm_is_derived_and_hash_is_stable():
    """num_perm is bands*rows_per_band, not a field; the default hash is
    the one checkpoints were keyed on while it was a field, so none of
    them recompute."""
    import dataclasses

    cfg = EngineConfig()
    assert cfg.num_perm == 128
    assert EngineConfig(bands=32, rows_per_band=4).num_perm == 128
    assert "num_perm" not in {f.name for f in dataclasses.fields(cfg)}
    assert len(dataclasses.fields(cfg)) == 14
    assert cfg.config_hash() == "23d9806f45dc287a"


def _saved_model(tmp_path, num_perm):
    """A model JSON in the format saved while num_perm was a field."""
    import dataclasses
    import json

    c = dataclasses.asdict(EngineConfig())
    c["num_perm"] = num_perm
    p = tmp_path / "model.json"
    p.write_text(json.dumps({"col_names": ["content"], "config": c}))
    return str(p)


def test_load_model_saved_with_num_perm(tmp_path):
    from deduplipy_spark.deduplicator import Deduplicator

    dd = Deduplicator.load(_saved_model(tmp_path, 128))
    assert dd.cfg.config_hash() == "23d9806f45dc287a"
    with pytest.raises(ValueError, match="num_perm"):
        Deduplicator.load(_saved_model(tmp_path, 96))
