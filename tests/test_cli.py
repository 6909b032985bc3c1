"""CLI argument contract (no Spark session: these fail at parse time)."""

import argparse

import pytest

from deduplipy_spark.cli import _add_config_args, _config_flags_set, main


def test_config_flags_set_names_only_moved_flags():
    p = argparse.ArgumentParser()
    _add_config_args(p)
    assert _config_flags_set(p.parse_args([])) == []
    assert _config_flags_set(p.parse_args(
        ["--band-cap", "5", "--id-cols", "a", "--content-col", "content"]
    )) == ["--band-cap", "--id-cols"]


@pytest.mark.parametrize("flags", [
    ["--checkpoint", "ckpt"],
    ["--band-cap", "10"],
    ["--pair-strategy", "exact"],
    ["--no-fill-missing"],
])
def test_run_model_rejects_config_flags(tmp_path, capsys, flags):
    """`run --model` applies the model's saved config, so a config flag
    would be silently dropped: it is refused before Spark starts."""
    with pytest.raises(SystemExit) as e:
        main(["run", "--input", str(tmp_path / "in"),
              "--output", str(tmp_path / "out"),
              "--model", str(tmp_path / "model.json"), *flags])
    assert e.value.code == 2
    assert flags[0] in capsys.readouterr().err


def test_run_rejects_invalid_config_before_spark(tmp_path, capsys):
    """An invalid config value is a usage error (exit 2, naming the field),
    not a run that puts every non-empty file in one cluster."""
    with pytest.raises(SystemExit) as e:
        main(["run", "--input", str(tmp_path / "in"),
              "--output", str(tmp_path / "out"), "--shingle-k", "0"])
    assert e.value.code == 2
    assert "shingle_k" in capsys.readouterr().err
