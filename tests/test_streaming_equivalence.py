"""Batch-vs-incremental equivalence (VERDICT r4 #3): the incremental band
index, fed the sf0.01 documents corpus in 4 micro-batches, must recover
EXACTLY the pair set of the batch blocker at the same (uncapped) config.

This makes the incremental path's contract executable end-to-end: with
band_cap sized past the corpus, every pair that shares a band key must be
discovered either within its arrival batch (intra) or when its later member
arrives (new-vs-index) — no pair is lost across micro-batch boundaries, and
none is invented. (At production caps the two sides differ only by the
DOCUMENTED cap semantics: both retain the band minimum, so star
connectivity is preserved; see test_incremental_hot_band_and_intra_batch.)
"""

import os
import tempfile

import pytest


SF_DOCS = "/root/testdata/sf0.01/documents.parquet"


@pytest.mark.skipif(not os.path.exists(SF_DOCS), reason="sf0.01 data absent")
def test_incremental_matches_batch_blocker_on_sf001(spark, await_available_now):
    from pyspark.sql import functions as F

    from deduplipy_spark.config import EngineConfig
    from deduplipy_spark.ids import with_identity
    from deduplipy_spark.operators.minhash import band_keys, with_signatures
    from deduplipy_spark.operators.pairs import candidate_pairs
    from deduplipy_spark.streaming.incremental import IncrementalNearDup

    cfg = EngineConfig(id_cols=("doc_id",), content_col="text",
                       band_cap=100_000)      # past the corpus: cap inert
    docs = spark.read.parquet(SF_DOCS).select("doc_id", "text")

    # ---- batch side: the full blocker over ALL rows at the same config
    ident = with_identity(docs, cfg.id_cols, cfg.content_col)
    bands = band_keys(with_signatures(ident, cfg), cfg)
    batch_pairs = {
        (min(a, b), max(a, b))
        for a, b in candidate_pairs(bands, cfg)
        .select("id_1", "id_2").toPandas().itertuples(index=False)
    }
    assert len(batch_pairs) >= 20, "corpus has too few band pairs — vacuous"

    # ---- incremental side: same corpus in 4 arrival chunks, each a real
    # availableNow streaming run against the persisted band index
    tmp = tempfile.mkdtemp()
    in_dir, state, ckpt = [os.path.join(tmp, d) for d in ("in", "state", "ckpt")]
    os.makedirs(in_dir)
    inc = IncrementalNearDup(spark, cfg, state)
    schema = "doc_id bigint, text string"
    for chunk in range(4):
        docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == chunk).write.mode(
            "append").parquet(in_dir)
        q = inc.start(in_dir, schema, ckpt)
        # fail loudly on timeout: a still-running query overlapping the next
        # chunk's write would turn the equivalence gate flaky, not red
        await_available_now(q, 180)

    import pandas as pd

    matches = spark.read.parquet(inc.matches_path).toPandas()
    inc_pairs = {
        (min(a, b), max(a, b))
        for a, b in matches[["new_id", "existing_id"]].itertuples(index=False)
    }
    missing = batch_pairs - inc_pairs
    invented = inc_pairs - batch_pairs
    assert not missing, f"{len(missing)} batch pairs lost across micro-batches"
    assert not invented, f"{len(invented)} pairs not justified by any band"
