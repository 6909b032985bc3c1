"""F8: kill/resume — checkpointed run killed after `candidates` resumes to a
byte-identical `clusters` output; each stage manifest records the stage's
row count; config change invalidates manifests."""

import json
import os
import tempfile

import pytest

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.deduplicator import REMOVED_CONFIG
from deduplipy_spark.plans.pipeline import DedupPipeline
from deduplipy_spark.sources.datagen import gen_files
from deduplipy_spark.sources.io import MANIFEST, TableIO


def _clusters_pdf(out):
    return (
        out.select("file_id", "content_sha", "cluster_id")
        .orderBy("file_id")
        .toPandas()
    )


def test_kill_after_candidates_resume_identical(spark):
    tmp = tempfile.mkdtemp()
    cfg = EngineConfig(checkpoint_dir=tmp)
    files = gen_files(spark, 200, 20, partitions=4)

    first = _clusters_pdf(DedupPipeline(spark, cfg).run(files))

    # "kill after candidates": wipe manifests of every later stage
    for stage in ["scored_pairs", "components", "clusters_nd", "clusters"]:
        os.remove(os.path.join(tmp, stage, MANIFEST))
    # record mtimes of surviving stage data to prove they are NOT recomputed
    sig_manifest = os.path.join(tmp, "signatures", MANIFEST)
    mtime_before = os.path.getmtime(sig_manifest)

    second = _clusters_pdf(DedupPipeline(spark, cfg).run(files))
    assert first.equals(second)
    assert os.path.getmtime(sig_manifest) == mtime_before   # stage was skipped

    # the manifest's row count is the written table's (resume trusts it)
    io = TableIO(spark, tmp, cfg.config_hash())
    man = json.load(open(sig_manifest))
    assert man["row_count"] == io.read("signatures").count()
    assert man["config_hash"] == cfg.config_hash()


def test_config_change_invalidates_checkpoints(spark):
    tmp = tempfile.mkdtemp()
    files = gen_files(spark, 100, 10, partitions=4)
    cfg1 = EngineConfig(checkpoint_dir=tmp)
    DedupPipeline(spark, cfg1).run(files).count()
    sig_manifest = os.path.join(tmp, "signatures", MANIFEST)
    mtime_before = os.path.getmtime(sig_manifest)

    cfg2 = EngineConfig(checkpoint_dir=tmp, shingle_k=9)   # semantic change
    assert cfg1.config_hash() != cfg2.config_hash()
    DedupPipeline(spark, cfg2).run(files).count()
    assert os.path.getmtime(sig_manifest) > mtime_before   # recomputed

    # execution-only change does NOT invalidate
    cfg3 = EngineConfig(checkpoint_dir=tmp + "/elsewhere", shingle_k=9)
    assert cfg2.config_hash() == cfg3.config_hash()


def test_load_model_with_removed_shuffle_partitions(tmp_path):
    """Model JSON saved while EngineConfig still had the (never hashed)
    shuffle_partitions and driver_cc_max_edges fields loads to the same
    config_hash."""
    from deduplipy_spark.deduplicator import Deduplicator

    Deduplicator(col_names=["name"]).save(str(tmp_path / "new.json"))
    blob = json.loads((tmp_path / "new.json").read_text())
    blob["config"]["shuffle_partitions"] = 32
    blob["config"]["driver_cc_max_edges"] = 0
    (tmp_path / "old.json").write_text(json.dumps(blob))

    new = Deduplicator.load(str(tmp_path / "new.json"))
    old = Deduplicator.load(str(tmp_path / "old.json"))
    assert old.cfg.config_hash() == new.cfg.config_hash()


# a value other than the only one each removed EngineConfig field ran at
_OTHER_VALUE = {
    "minhash_scheme": "perm",
    "hot_band_star": False,
    "simhash_bits": 32,
    "simhash_band_bits": 8,
    "softimpute_convergence": 0.001,
    "max_cc_rounds": 10,
}


@pytest.mark.parametrize("legacy, error", [
    (dict(REMOVED_CONFIG), None),
    *[({key: _OTHER_VALUE[key]}, key) for key in REMOVED_CONFIG],
])
def test_load_model_with_removed_kernel_switches(tmp_path, legacy, error):
    """Model JSON saved while EngineConfig still had the fields in
    REMOVED_CONFIG loads at their defaults (same config_hash as a fresh
    model); any other value is refused, naming the key."""
    from deduplipy_spark.deduplicator import Deduplicator

    fresh = Deduplicator(col_names=["name"])
    fresh.save(str(tmp_path / "new.json"))
    blob = json.loads((tmp_path / "new.json").read_text())
    blob["config"].update(legacy)
    (tmp_path / "old.json").write_text(json.dumps(blob))

    if error is None:
        old = Deduplicator.load(str(tmp_path / "old.json"))
        assert old.cfg.config_hash() == fresh.cfg.config_hash()
    else:
        with pytest.raises(ValueError, match=error):
            Deduplicator.load(str(tmp_path / "old.json"))


def test_kernel_version_invalidates_checkpoints(monkeypatch):
    """ADVICE r4 #3: a semantics-changing kernel fix (same config VALUES)
    must invalidate old stage manifests — KERNEL_VERSION is folded into
    config_hash, so bumping it changes the hash for identical configs."""
    from deduplipy_spark import config as config_mod

    h1 = EngineConfig().config_hash()
    monkeypatch.setattr(config_mod, "KERNEL_VERSION", config_mod.KERNEL_VERSION + 1)
    h2 = EngineConfig().config_hash()
    assert h1 != h2


def test_bucketed_bands_skip_pair_gen_shuffle(spark):
    """Explicit co-located layout: bands written bucketed+sorted by band_key
    feed the pair generator's window WITHOUT an Exchange (the persisted hash
    partitioning satisfies the window's distribution requirement)."""
    import tempfile

    from pyspark.sql import functions as F

    from deduplipy_spark.operators.pairs import candidate_pairs

    tmp = tempfile.mkdtemp()
    cfg = EngineConfig(band_cap=10)
    bands = spark.range(3000).select(
        F.col("id"), (F.col("id") % 500).alias("band_key")
    )
    io = TableIO(spark, tmp, cfg.config_hash())
    try:
        bucketed = io.write_bucketed("bands_bucketed", bands,
                                     bucket_cols=["band_key"])
        pairs = candidate_pairs(bucketed, cfg)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # plans print top-down: everything AFTER the Window line is its
        # input subtree — the bucketed scan must feed it with no Exchange
        assert "Window" in plan
        below_window = plan.split("Window", 1)[1]
        assert "Exchange" not in below_window, below_window
        # and the result is identical to the unbucketed path
        assert pairs.count() == candidate_pairs(bands, cfg).count()
    finally:
        spark.sql(f"drop table if exists {io.table_name('bands_bucketed')}")


def test_save_intermediate_steps_dumps_every_stage(spark, tmp_path, monkeypatch):
    """save_intermediate_steps (reference blocking.py:132-133 debug dumps):
    stage tables land in ./deduplipy_intermediate_steps, fresh every run
    (no resume skip), without checkpoint_dir semantics."""
    import dataclasses
    import os

    monkeypatch.chdir(tmp_path)
    files = gen_files(spark, 100, 10, partitions=4)
    cfg = dataclasses.replace(EngineConfig(), save_intermediate_steps=True)
    out1 = DedupPipeline(spark, cfg).run(files)
    n1 = out1.count()
    dump = tmp_path / "deduplipy_intermediate_steps"
    stages = {p.name for p in dump.iterdir() if p.is_dir()}
    assert {"files_hashed", "signatures", "candidates", "scored_pairs",
            "components", "clusters"} <= stages
    # no-resume contract: a second run REWRITES (mtime advances)
    m = dump / "scored_pairs" / "_manifest.json"
    t1 = m.stat().st_mtime_ns
    DedupPipeline(spark, cfg).run(files).count()
    assert m.stat().st_mtime_ns > t1
    assert DedupPipeline(spark, cfg).run(files).count() == n1


def test_bucketed_signatures_drop_scoring_exchanges(spark):
    """VERDICT r3 #4: the checkpointed flagship path writes signatures
    bucketed by file_id, so BOTH scoring joins read co-located buckets —
    the signature side contributes no Exchange to the scored_pairs plan
    (broadcast disabled so the plan comparison is about partitioning, not
    AQE's size tricks)."""
    import tempfile

    from pyspark.sql import functions as F

    from deduplipy_spark.operators.scoring import score_pairs

    tmp = tempfile.mkdtemp()
    cfg = EngineConfig()
    files = gen_files(spark, 300, 30, members=3, seed=13, partitions=4)
    from deduplipy_spark.ids import with_identity
    from deduplipy_spark.operators.minhash import with_signatures

    ident = with_identity(files, cfg.id_cols, cfg.content_col)
    sigs_df = with_signatures(ident, cfg)
    cands = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_1 long, id_2 long")

    io = TableIO(spark, tmp, cfg.config_hash())
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_abcast = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        plain = io.write("sigs_plain", sigs_df)
        bucketed = io.write_bucketed(
            "sigs_bucketed", sigs_df, bucket_cols=["file_id"], n_buckets=8)
        n_ex_plain = score_pairs(cands, plain, cfg)._jdf.queryExecution() \
            .executedPlan().toString().count("Exchange")
        n_ex_bucketed = score_pairs(cands, bucketed, cfg)._jdf.queryExecution() \
            .executedPlan().toString().count("Exchange")
        # two sig-side exchanges elided (one per join)
        assert n_ex_bucketed <= n_ex_plain - 2, (n_ex_plain, n_ex_bucketed)
        # resume contract: manifest written, read() resolves the catalog
        # table (still bucketed) and results agree
        assert io.is_done("sigs_bucketed") or io.manifest("sigs_bucketed")
        again = io.read("sigs_bucketed")
        assert again.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        if old_abcast:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_abcast)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql(f"drop table if exists {io.table_name('sigs_bucketed')}")


def test_checkpointed_pipeline_bucketed_sigs_same_result(spark, tmp_path):
    """E2E: the bucketed-signature checkpoint path produces the same
    clusters as the uncheckpointed pipeline, and resume still skips."""
    files = gen_files(spark, 200, 20, members=3, seed=21, partitions=4)
    plain = (DedupPipeline(spark, EngineConfig()).run(files)
             .select("file_id", "cluster_id").toPandas()
             .sort_values("file_id", ignore_index=True))
    cfg = EngineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    ck = (DedupPipeline(spark, cfg).run(files)
          .select("file_id", "cluster_id").toPandas()
          .sort_values("file_id", ignore_index=True))
    assert plain.equals(ck)
    # resume: signature manifest honored (no rewrite)
    sig_manifest = tmp_path / "ckpt" / "signatures" / "_manifest.json"
    m0 = os.path.getmtime(sig_manifest)
    ck2 = (DedupPipeline(spark, cfg).run(files)
           .select("file_id", "cluster_id").toPandas()
           .sort_values("file_id", ignore_index=True))
    assert plain.equals(ck2)
    assert os.path.getmtime(sig_manifest) == m0
