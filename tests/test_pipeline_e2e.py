"""End-to-end: Spark pipeline vs a single-node reference replica at identical
shingle/signature config (the recall≥0.99 gate of BASELINE.json), plus the
planted-truth sanity check and the sha256 invariant.

The reference itself cannot run in this env (scipy/fancyimpute/modAL absent —
SURVEY §7), so the replica re-executes the same semantics single-node:
python-dict banding, union-find components, the numpy HAC verified against
the reference's clustering goldens in tests/test_clustering.py.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark import StorageLevel

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.ids import with_identity
from deduplipy_spark.partitioning import ensure_parallelism
from deduplipy_spark.plans.pipeline import DedupPipeline
from deduplipy_spark.replica import replica_clusters
from deduplipy_spark.sources.datagen import gen_files, gen_pandas

N_FILES, N_CLUSTERS, MEMBERS = 400, 40, 5


def dup_pairs(assign: dict[int, int]) -> set[tuple[int, int]]:
    from collections import defaultdict

    groups = defaultdict(list)
    for k, v in assign.items():
        groups[v].append(k)
    pairs = set()
    for members in groups.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


@pytest.fixture(scope="module")
def run(spark):
    cfg = EngineConfig()
    files = gen_files(spark, N_FILES, N_CLUSTERS, MEMBERS, partitions=8)
    out = DedupPipeline(spark, cfg).run(files)
    spark_pdf = out.toPandas()
    idmap = (
        with_identity(files).select("file_id", "row_idx", "truth_cluster").toPandas()
    )
    merged = spark_pdf.merge(idmap, on="file_id")
    local = gen_pandas(N_FILES, N_CLUSTERS, MEMBERS)
    id_of_idx = dict(zip(idmap.row_idx, idmap.file_id))
    repl = replica_clusters(local, cfg, id_of_idx)
    return merged, repl


def test_recall_vs_reference_replica(run):
    merged, repl = run
    spark_assign = dict(zip(merged.file_id, merged.cluster_id))
    assert len(spark_assign) == N_FILES
    rp, sp = dup_pairs(repl), dup_pairs(spark_assign)
    assert rp, "replica found no duplicate pairs — test is vacuous"
    recall = len(rp & sp) / len(rp)
    precision = len(rp & sp) / max(len(sp), 1)
    assert recall >= 0.99, (len(rp), len(sp), len(rp & sp))
    assert precision >= 0.99, (len(rp), len(sp), len(rp & sp))


def test_truth_recall_sanity(run):
    merged, _ = run
    spark_assign = dict(zip(merged.row_idx, merged.cluster_id))
    truth_assign = dict(zip(merged.row_idx, merged.truth_cluster))
    tp = {p for p in dup_pairs(truth_assign) if p[0] < N_CLUSTERS * MEMBERS}
    sp = dup_pairs(spark_assign)
    recall = len(tp & sp) / len(tp)
    # planted mutations are small; the default config should catch nearly all
    assert recall >= 0.9, recall


def test_sha_invariant_and_exact_collapse(run):
    merged, _ = run
    # exact copies (members 0,1 of each planted cluster) share a cluster id
    for c in range(N_CLUSTERS):
        a = merged[merged.row_idx == c * MEMBERS].cluster_id.iloc[0]
        b = merged[merged.row_idx == c * MEMBERS + 1].cluster_id.iloc[0]
        assert a == b
    # output carries content_sha for every row (invariant checked vs input)
    assert merged.content_sha.notna().all()


def test_run_restores_session_conf(spark, tmp_path):
    """ADVICE r4 #2: run()'s per-input shuffle sizing + AQE coalesce toggle
    must not leak into the session — prior values are restored on exit,
    including when the input is a FILE source that triggers the override."""
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    before = {k: spark.conf.get(k, None) for k in keys}
    # file-backed input so files.inputFiles() reports bytes (override fires)
    p = str(tmp_path / "files.parquet")
    gen_files(spark, 120, 12, partitions=4).write.parquet(p)
    out = DedupPipeline(spark, EngineConfig()).run(spark.read.parquet(p))
    after = {k: spark.conf.get(k, None) for k in keys}
    assert after == before, (before, after)
    assert out.count() == 120      # post-restore execution still correct


def test_stage_caches_are_per_instance(spark):
    """ADVICE r4 #5: pipeline B's run() must not unpersist pipeline A's
    still-live stage caches; A releases its own on close() or its next
    run(). (Distinct inputs: Spark's CacheManager shares cache entries
    between plan-IDENTICAL DataFrames, so two pipelines over the same
    input+config intentionally share storage.)"""
    files_a = gen_files(spark, 80, 8, partitions=4)
    files_b = gen_files(spark, 90, 9, partitions=4)
    a, b = DedupPipeline(spark, EngineConfig()), DedupPipeline(spark, EngineConfig())
    out_a = a.run(files_a)
    out_a.count()
    assert a._cached and all(df.storageLevel.useMemory for df in a._cached)
    b.run(files_b).count()
    # A's caches survive B's run
    assert all(df.storageLevel.useMemory for df in a._cached)
    cached_a = list(a._cached)
    a.close()
    assert not a._cached
    assert all(not df.storageLevel.useMemory for df in cached_a)
    # B's caches were never touched by A's close
    assert b._cached and all(df.storageLevel.useMemory for df in b._cached)
    b.close()


@pytest.mark.parametrize("partitions", [4, 16])
def test_pipeline_cuts_follow_one_rule(spark, partitions):
    """Without TableIO checkpoints, run() cuts exactly the multi-consumer
    relations, all at MEMORY_AND_DISK_DESER: the five reused stages, the
    ranked band window, and the identity table when the input was
    repartitioned (4 partitions on 8 cores is; 16 is not)."""
    files = gen_files(spark, 80, 8, partitions=partitions)
    pipe = DedupPipeline(spark, EngineConfig())
    pipe.run(files).count()
    want = [
        ["file_id", "content_sha", "content_len", "repo", "path", "commit",
         "lang"],                                   # files_hashed
        ["content_sha", "file_id"],                 # rep_ids
        ["file_id", "sig"],                         # signatures
        ["band_key", "id", "rn", "band_min"],       # ranked band window
        ["id_1", "id_2", "score"],                  # scored_pairs
        ["id", "component", "_csize"],              # components
    ]
    repartitioned = ensure_parallelism(files) is not files
    assert repartitioned == (partitions == 4)       # both sides of the gate
    if repartitioned:
        want.insert(0, with_identity(files).columns)    # ident_full
    assert [df.columns for df in pipe._cached] == want
    assert all(df.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
               for df in pipe._cached)
    pipe.close()


def test_pipeline_distributed_cc_matches_driver_path(spark, monkeypatch):
    """Run the FULL pipeline with the driver-CC cutoff patched to 0, so the
    components stage takes the distributed frontier loop in situ —
    including the _csize window that gates the HAC oversized-component
    split, which no oracle row exercises on the distributed path. Cluster assignment must be identical to the default
    (driver union-find) run: SURVEY §1.3.5 partition equality, min-id ids."""
    files = gen_files(spark, 300, 30, 5, partitions=8)
    base = (DedupPipeline(spark, EngineConfig()).run(files)
            .toPandas().sort_values("file_id", ignore_index=True))
    from deduplipy_spark.operators import components

    monkeypatch.setattr(components, "auto_driver_max_edges", lambda s: 0)
    dist = (DedupPipeline(spark, EngineConfig())
            .run(files).toPandas().sort_values("file_id", ignore_index=True))
    pd.testing.assert_frame_equal(base, dist)
    assert base.cluster_id.nunique() < len(base)   # real merges happened
