"""Self-test of the benchmark: tiny inputs, every metric name and unit, and
the correctness gate.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run as bench  # noqa: E402

bench.configure_env()


def _check_shape(result: dict, names: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(names)
    for name, m in result["metrics"].items():
        assert set(m) == {"value", "unit"}
        assert m["unit"] == names[name]
        assert isinstance(m["value"], float | int)
    json.dumps(result)


@pytest.mark.parametrize("workload", sorted(bench.WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_tiny_run_reports_every_metric(workload, trace):
    result = bench.run(workload, seed=3, seconds=0, trace=trace, size="tiny",
                       log=lambda _: None)
    _check_shape(result, bench.PER_LAYER if trace else bench.END_TO_END)
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert m["ok_frac"] == 1.0
        assert m["dup_pair_recall"] >= bench.MIN_RECALL
        assert min(m.values()) > 0
    else:
        self_times = [v for k, v in m.items()
                      if k.endswith(".s") or k == "plans.pipeline.other_s"]
        assert min(self_times) >= 0
        assert m["minhash.with_signatures.rows"] > 0
        if workload == "stream_ingest":
            assert m["streaming.incremental.process_batch.index_rows"] > 0
            assert m["streaming.incremental.process_batch.write_mb"] > 0
        else:
            assert m["components.connected_components.n_edges"] > 0


def test_corrupted_assignment_trips_the_gate(monkeypatch):
    from pyspark.sql import functions as F

    from deduplipy_spark.plans import pipeline

    real_run = pipeline.DedupPipeline.run

    def singletons(self, files):
        # every file in a cluster of its own: no duplicate pair is found
        return real_run(self, files).withColumn("cluster_id", F.col("file_id"))

    monkeypatch.setattr(pipeline.DedupPipeline, "run", singletons)
    result = bench.run("hot_bands", seed=3, seconds=0, trace=False,
                       size="tiny", log=lambda _: None)
    assert not result["correct"]
    assert result["failed"] == result["attempted"]
    assert result["metrics"]["ok_frac"]["value"] == 0.0
    assert result["metrics"]["dup_pair_recall"]["value"] == 0.0


def test_lost_cluster_trips_the_gate(monkeypatch):
    from pyspark.sql import functions as F

    from deduplipy_spark.plans import pipeline

    truth = bench.Inputs("hot_bands", "tiny", seed=3).truth_by_path
    biggest = truth.value_counts().index[0]
    lost = truth.index[truth == biggest].tolist()
    real_run = pipeline.DedupPipeline.run

    def lossy(self, files):
        # the rows of one whole cluster go missing from the assignment
        return real_run(self, files).where(~F.col("path").isin(lost))

    monkeypatch.setattr(pipeline.DedupPipeline, "run", lossy)
    result = bench.run("hot_bands", seed=3, seconds=0, trace=False,
                       size="tiny", log=lambda _: None)
    assert not result["correct"]
    assert result["failed"] == result["attempted"]
    assert result["metrics"]["dup_pair_recall"]["value"] == 0.0


def test_cluster_pair_scores():
    truth = pd.Series([1, 1, 1, 2, 2, 3])
    assert bench.cluster_pair_scores(truth, truth, 4) == (1.0, 1.0)
    # one member split off: 2 of the 4 truth pairs are lost
    split = pd.Series([1, 1, 9, 2, 2, 3])
    assert bench.cluster_pair_scores(truth, split, 4) == (0.5, 1.0)
    # everything merged: recall 1, precision 4 of 15 pairs
    merged = pd.Series([0] * 6)
    assert bench.cluster_pair_scores(truth, merged, 4) == (1.0, 4 / 15)
    # recall counts against the whole input, not the rows scored
    assert bench.cluster_pair_scores(truth, truth, 8) == (0.5, 1.0)
    assert not bench.gate_ok(*bench.cluster_pair_scores(truth, split, 4))
    assert not bench.gate_ok(*bench.cluster_pair_scores(truth, merged, 4))


def test_matched_pair_scores():
    truth_by_id = pd.Series({10: 1, 11: 1, 12: 1, 20: 2, 30: 3})
    a = pd.Series([11, 10, 12, 12, 30])
    b = pd.Series([10, 11, 10, 11, 20])      # (10,11) twice, one false pair
    recall, precision = bench.matched_pair_scores(truth_by_id, 3, a, b)
    assert recall == 1.0 and precision == 3 / 4


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(os.path.dirname(os.path.abspath(__file__)),
                    tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hot_bands",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
