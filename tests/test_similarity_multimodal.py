"""ANN similarity search + multimodal plumbing + streaming incremental dedup."""

import os
import tempfile

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from deduplipy_spark.operators.multimodal import (
    FEAT_DIM,
    extract_features,
    media_dedup_features,
)
from deduplipy_spark.operators.similarity import brute_force_topk, ivf_topk


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_brute_force_topk(spark, emb):
    out = brute_force_topk(emb, emb.limit(20), k=5).toPandas()
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine", "rank"}
    assert out.groupby("query_id").size().max() == 5
    assert (out.cosine <= 1.0 + 1e-9).all() and (out.cosine >= -1.0 - 1e-9).all()
    # ranks ordered by cosine desc within each query
    for _, g in out.groupby("query_id"):
        assert (g.sort_values("rank").cosine.diff().dropna() <= 1e-9).all()


def test_brute_force_topk_never_broadcasts_large_side(spark, emb):
    """VERDICT r1 #3: the big corpus must never be the broadcast side."""
    big = emb
    for _ in range(5):                       # 1k rows -> 32k synthetic rows
        big = big.unionByName(big.withColumn("vec_id", F.col("vec_id") + 1_000_000))
    small_q = emb.limit(8)
    plan = brute_force_topk(big, small_q, k=3)._jdf.queryExecution() \
        .executedPlan().toString()
    # the only BroadcastExchange allowed is the 8-row query side
    import re
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # corpus side carries emb_2: it must NOT sit under a BroadcastExchange
    for m in re.finditer(r"BroadcastExchange[\s\S]{0,400}?emb_(\d)", plan):
        assert m.group(1) == "1", plan[m.start():m.start() + 200]


def test_ivf_topk_recall_and_plan(spark, emb):
    """IVF probe path: top-1 recall vs brute force, and the centroid table
    must be the broadcast side (never the corpus)."""
    queries = emb.limit(40)
    bf = brute_force_topk(emb, queries, k=1).toPandas()
    ivf = ivf_topk(emb, queries, k=1, n_lists=16, n_probe=8)
    plan = ivf._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan       # centroids broadcast
    got = ivf.toPandas()
    bf1 = dict(zip(bf.query_id, bf.neighbor_id))
    iv1 = dict(zip(got.query_id, got.neighbor_id))
    hits = sum(1 for qid, n in bf1.items() if iv1.get(qid) == n)
    assert hits / len(bf1) >= 0.5, hits / len(bf1)
    # full probe (n_probe = n_lists) is exhaustive: exact agreement
    full = ivf_topk(emb, queries, k=1, n_lists=16, n_probe=16).toPandas()
    fl1 = dict(zip(full.query_id, full.neighbor_id))
    assert fl1 == bf1


def test_multimodal_features_deterministic(spark):
    rows = [
        (1, "image", bytes([1, 2, 3] * 100), {"width": 64, "height": 64,
                                              "sample_rate": None, "duration_ms": None}),
        (2, "audio", bytes([9, 9] * 50), {"width": None, "height": None,
                                          "sample_rate": 16000, "duration_ms": 2000}),
        (3, "image", bytes([1, 2, 3] * 100), {"width": 64, "height": 64,
                                              "sample_rate": None, "duration_ms": None}),
    ]
    media = spark.createDataFrame(
        rows,
        "file_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,duration_ms:int>",
    )
    feats = extract_features(media).toPandas().set_index("file_id")
    assert (feats.feat_dim == FEAT_DIM).all()
    # identical payload -> identical feature on any worker
    assert np.allclose(feats.loc[1].feature, feats.loc[3].feature)
    assert not np.allclose(feats.loc[1].feature, feats.loc[2].feature)

    dd = media_dedup_features(media).toPandas().set_index("file_id")
    assert dd.loc[1].payload_sha == dd.loc[3].payload_sha


def test_incremental_hot_band_and_intra_batch(spark, await_available_now):
    """VERDICT r1 #7: (a) a duplicate pair arriving in the SAME micro-batch
    is detected; (b) a planted hot band never grows the index past band_cap
    per band key."""
    from deduplipy_spark.config import EngineConfig
    from deduplipy_spark.ids import with_identity
    from deduplipy_spark.streaming.incremental import IncrementalNearDup

    cfg = EngineConfig(id_cols=("repo", "path", "commit"), band_cap=10)
    tmp = tempfile.mkdtemp()
    in_dir, state, ckpt = [os.path.join(tmp, d) for d in ("in", "state", "ckpt")]
    os.makedirs(in_dir)
    hot = "shared boilerplate header\n" * 40
    neardup_a = "\n".join(
        f"def fn_{i}(x):\n    return x + {i * 17}" for i in range(40)
    )
    neardup_b = neardup_a.replace("fn_7", "fn_seven")   # tiny edit, J ~ 0.97

    rows = [("r", f"hot{i}", "c", "py", hot) for i in range(30)]
    rows += [("r", "nd_a", "c", "py", neardup_a), ("r", "nd_b", "c", "py", neardup_b)]
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    spark.createDataFrame(pdf).write.mode("append").parquet(in_dir)

    inc = IncrementalNearDup(spark, cfg, state)
    schema = "repo string, path string, commit string, lang string, content string"
    await_available_now(inc.start(in_dir, schema, ckpt), 120)

    ids = with_identity(spark.createDataFrame(pdf), cfg.id_cols).select(
        "path", "file_id"
    ).toPandas().set_index("path").file_id.to_dict()
    matches = spark.read.parquet(inc.matches_path).toPandas()
    got = set(map(tuple, matches[["new_id", "existing_id"]].values))
    # (a) the same-batch near-dup pair is detected (either orientation)
    assert (ids["nd_a"], ids["nd_b"]) in got or (ids["nd_b"], ids["nd_a"]) in got
    # (a') hot members pair with each other within the batch
    hot_ids = {v for k, v in ids.items() if k.startswith("hot")}
    assert any(a in hot_ids and b in hot_ids for a, b in got)
    # (b) index invariant: <= cap rows per band key
    index = spark.read.parquet(inc.bands_path).toPandas()
    assert index.groupby("band_key").size().max() <= cfg.band_cap

    # batch 2: another hot copy must match the index but not extend full bands
    pdf2 = pd.DataFrame(
        [("r2", "hot_late", "c", "py", hot)],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    spark.createDataFrame(pdf2).write.mode("append").parquet(in_dir)
    await_available_now(inc.start(in_dir, schema, ckpt), 120)
    late_id = with_identity(spark.createDataFrame(pdf2), cfg.id_cols).first().file_id
    matches2 = spark.read.parquet(inc.matches_path).toPandas()
    assert (matches2.new_id == late_id).any()        # matched against index
    index2 = spark.read.parquet(inc.bands_path).toPandas()
    assert index2.groupby("band_key").size().max() <= cfg.band_cap


def test_incremental_near_dup_stream(spark, await_available_now):
    from deduplipy_spark.config import EngineConfig
    from deduplipy_spark.streaming.incremental import IncrementalNearDup

    cfg = EngineConfig(id_cols=("repo", "path", "commit"))
    tmp = tempfile.mkdtemp()
    in_dir, state, ckpt = [os.path.join(tmp, d) for d in ("in", "state", "ckpt")]
    os.makedirs(in_dir)
    content = "def foo(x):\n    return x + 1\n" * 30

    def write_batch(i, text):
        pdf = pd.DataFrame(
            {"repo": [f"r{i}"], "path": [f"p{i}"], "commit": [f"c{i}"],
             "lang": ["py"], "content": [text]}
        )
        spark.createDataFrame(pdf).write.mode("append").parquet(in_dir)

    inc = IncrementalNearDup(spark, cfg, state)
    write_batch(0, content)
    q = inc.start(in_dir, "repo string, path string, commit string, lang string, content string", ckpt)
    await_available_now(q, 60)
    # second file arrives: near-identical -> must match against the index
    write_batch(1, content + "\n# tail")
    q2 = inc.start(in_dir, "repo string, path string, commit string, lang string, content string", ckpt)
    await_available_now(q2, 60)
    matches = spark.read.parquet(inc.matches_path).toPandas()
    assert len(matches) >= 1


def _clustered_embeddings(spark, n_clusters=20, members=10, dim=32, seed=5):
    """Planted near-dup embedding table: members of a cluster have cosine
    ~0.95+ to their center; cross-cluster cosine ~0."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, truth = [], []
    vid = 0
    for c in range(n_clusters):
        for _ in range(members):
            v = centers[c] + rng.normal(scale=0.05, size=dim)
            v /= np.linalg.norm(v)
            rows.append((vid, v.astype(np.float32).tolist()))
            truth.append(c)
            vid += 1
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf), np.asarray(truth)


def test_embedding_dup_pairs_lsh_high_cosine_prunes_and_recalls(spark):
    """The dedup regime (cosine >= 0.9): 8-bit bands keep full recall while
    scoring only a small fraction of the n^2 pairs — the property that makes
    the banded path the 100-TB plan (the cartesian baseline scores all)."""
    from deduplipy_spark.config import EngineConfig
    from deduplipy_spark.operators.pairs import candidate_pairs
    from deduplipy_spark.operators.similarity import (
        cosine_col,
        embedding_dup_pairs_lsh,
        make_hyperplane_udf,
    )

    emb, truth = _clustered_embeddings(spark)
    n = emb.count()
    a = emb.select(F.col("vec_id").alias("id_1"),
                   F.col("embedding").cast("array<double>").alias("emb_1"))
    b = emb.select(F.col("vec_id").alias("id_2"),
                   F.col("embedding").cast("array<double>").alias("emb_2"))
    exact = (
        a.crossJoin(b).where(F.col("id_1") < F.col("id_2"))
        .withColumn("cosine", F.round(cosine_col(), 8))
        .where(F.col("cosine") >= 0.9).toPandas()
    )
    assert len(exact) > 100                       # planted pairs exist
    banded = embedding_dup_pairs_lsh(
        emb, threshold=0.9, dim=32, n_bits=128, band_bits=8
    ).toPandas()
    got = set(zip(banded.id_1, banded.id_2))
    want = set(zip(exact.id_1, exact.id_2))
    recall = len(got & want) / len(want)
    assert recall >= 0.99
    # pruning: candidates scored << all pairs
    sig_udf = make_hyperplane_udf(32, 128, 8, 42)
    sigs = emb.select(F.col("vec_id").alias("id"),
                      sig_udf("embedding").alias("sig"))
    bands = sigs.select("id", F.explode(F.transform(
        "sig", lambda v, i: F.xxhash64(v.cast("string"), i.cast("string"))
    )).alias("band_key"))
    n_cands = candidate_pairs(bands, EngineConfig(band_cap=100000)).count()
    assert n_cands < 0.25 * (n * (n - 1) / 2), (
        f"banding scored {n_cands} of {n*(n-1)//2} pairs — no pruning")


def test_containment_banded_blocks_and_verifies(spark):
    """prefix/suffix band blocking finds prepend/append containment without
    a rule blocker; verify is exact."""
    from deduplipy_spark.config import EngineConfig
    from deduplipy_spark.operators.pairs import candidate_pairs
    from deduplipy_spark.operators.suffix import containment_pairs, prefix_band_keys

    base = "x" * 100 + "the quick brown fox jumps over the lazy dog" * 3
    pdf = pd.DataFrame({
        "file_id": [1, 2, 3, 4],
        "content": [base, base + " APPENDED TAIL", "unrelated " * 30,
                    "PREFIX " + base[:80]],   # shares 64-prefix with nobody
    })
    docs = spark.createDataFrame(pdf)
    bands = prefix_band_keys(docs, k=64)
    cands = candidate_pairs(bands, EngineConfig(band_cap=1000))
    out = containment_pairs(cands, docs).toPandas()
    pairs = set(zip(out.id_1, out.id_2))
    assert (1, 2) in pairs          # shared 64-char prefix, 1 contained in 2
    assert all(p[0] != 3 and p[1] != 3 for p in pairs)


def test_overflow_band_members_still_match_across_batches(spark, await_available_now):
    """VERDICT r3 #6: the capped band index claims (incremental.py:17-25)
    that overflow arrivals still MATCH the retained members forever — they
    just stop extending the index. Plant >cap members of one band across
    THREE micro-batches and assert every late arrival produces match rows,
    including against the index's retained minimum."""
    from deduplipy_spark.config import EngineConfig
    from deduplipy_spark.ids import with_identity
    from deduplipy_spark.streaming.incremental import IncrementalNearDup

    cfg = EngineConfig(id_cols=("repo", "path", "commit"), band_cap=5)
    tmp = tempfile.mkdtemp()
    in_dir, state, ckpt = [os.path.join(tmp, d) for d in ("in", "state", "ckpt")]
    os.makedirs(in_dir)
    hot = "common vendored license header text\n" * 30   # one band family
    schema = ("repo string, path string, commit string, lang string, "
              "content string")
    inc = IncrementalNearDup(spark, cfg, state)

    def arrive(names):
        pdf = pd.DataFrame(
            [("r", n, "c", "py", hot) for n in names],
            columns=["repo", "path", "commit", "lang", "content"])
        spark.createDataFrame(pdf).write.mode("append").parquet(in_dir)
        await_available_now(inc.start(in_dir, schema, ckpt), 120)
        return with_identity(spark.createDataFrame(pdf), cfg.id_cols).select(
            "path", "file_id").toPandas().set_index("path").file_id.to_dict()

    b1 = arrive([f"a{i}" for i in range(6)])     # 6 > cap: band full + 1 star
    b2 = arrive([f"b{i}" for i in range(3)])     # all overflow vs full band
    b3 = arrive(["c0", "c1"])                    # still must match

    index = spark.read.parquet(inc.bands_path).toPandas()
    assert index.groupby("band_key").size().max() <= cfg.band_cap
    retained = set(index.id)
    matches = spark.read.parquet(inc.matches_path).toPandas()
    late = set(b2.values()) | set(b3.values())
    assert not late & retained                   # genuinely overflow arrivals
    for fid in late:
        partners = set(
            matches.loc[matches.new_id == fid, "existing_id"]
        ) | set(matches.loc[matches.existing_id == fid, "new_id"])
        assert partners & retained, fid          # matched the capped index
        # ...and specifically the retained minimum (star-anchor guarantee)
        assert min(retained) in partners, fid
