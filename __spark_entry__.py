"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries map SURVEY.md §2 operators onto the driver's TPC-H-ish tables
(documents plays the role of the code-file `files` table: doc_id≈file_id,
text≈content). Every query has an oracle: 16 are independent ANSI-SQL
re-derivations; the 3 whose dataflow is not SQL-re-derivable (UDF
signatures / iterative CC) are pinned deterministic goldens under goldens/
(see oracle_sql notes and scripts/make_goldens.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.functions.blocking_rules import first_two_words, first_word, last_word
from deduplipy_spark.functions.text import (
    bpe_ish_token_count,
    lang_id,
    mean_word_length,
    stopword_ratio,
    whitespace_token_count,
)
from deduplipy_spark.operators.blocking import RuleBlocker
from deduplipy_spark.operators.ngram import ngram_jaccard_pairs
from deduplipy_spark.operators.similarity import brute_force_topk
from deduplipy_spark.plans.pipeline import DedupPipeline


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


DOC_CFG = EngineConfig(id_cols=("doc_id",), content_col="text")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups via sha256 (SURVEY §2.2 project+distinct pre-pass)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("content_sha", F.sha2(F.coalesce("text", F.lit("")), 256))
        .groupBy("content_sha")
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("group_size"))
        .select("content_sha", "rep_id", "group_size")
    )


def q_exact_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-map left-join-back (SURVEY §2.3: deduplicator.py:208)."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("content_sha")
    return (
        docs.withColumn("content_sha", F.sha2(F.coalesce("text", F.lit("")), 256))
        .withColumn("cluster_id", F.min("doc_id").over(w))
        .select("doc_id", "content_sha", "cluster_id")
    )


def q_rule_pairs_first_two_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-blocking pair table (SURVEY §2.3 fingerprint self-join) with the
    first_two_words rule (blocking_rules.py:28-33)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("file_id"), F.col("text")
    )
    blocker = RuleBlocker({"text": [first_two_words]})
    cfg = EngineConfig(band_cap=100000)      # no capping: pure join semantics
    return blocker.pairs(docs, cfg).select("id_1", "id_2")


def q_rule_pairs_salted_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same rule-blocked pair table, generated by the salted EXACT path
    (operators/pairs.salted_pairs): hot bands are triangle-split across
    (band_key, block_i, block_j) cells — block=2 forces every band through
    the split — and the result must still equal the oracle's plain
    self-join pair-for-pair (north rule: "salted repartitioning ... with
    skew-aware splitting of hot bands")."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("file_id"), F.col("text")
    )
    blocker = RuleBlocker({"text": [first_two_words]})
    cfg = EngineConfig(band_cap=100000, pair_strategy="exact")
    return blocker.pairs(docs, cfg, block=2).select("id_1", "id_2")


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship block→score→cluster pipeline (no SQL oracle: iterative CC)."""
    docs = _docs(spark, sf_dir)
    out = DedupPipeline(spark, DOC_CFG).run(docs)
    return out.select("file_id", "content_sha", "cluster_id").orderBy("file_id")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality ingredients (functions/text.py), all codegen."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        F.round(mean_word_length(F.col("text")), 6).alias("mean_word_len"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stop_ratio"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (functions/text.py lang_id)."""
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", lang_id(F.col("text")).alias("pred_lang"))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard over first_two_words-blocked candidates."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("file_id"), F.col("text").alias("content")
    )
    blocker = RuleBlocker({"content": [first_two_words]})
    cands = blocker.pairs(docs, EngineConfig(band_cap=100000))
    return ngram_jaccard_pairs(docs, cands, n=3, threshold=0.2)


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 ANN baseline over the embeddings table."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.where(F.col("vec_id") < 50)
    return brute_force_topk(emb, queries, k=5)


def q_norm_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on whitespace/case-normalized content."""
    docs = _docs(spark, sf_dir)
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.coalesce("text", F.lit(""))), r"\s+", " "),
        r"^ | $", "",
    )
    return (
        docs.withColumn("norm", norm)
        .groupBy("norm")
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("group_size"))
        .select("norm", "rep_id", "group_size")
    )


def q_fingerprint_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fingerprint melt (blocking.py:80-101): two rules, long format."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("file_id"), F.col("text")
    )
    blocker = RuleBlocker({"text": [first_word, last_word]})
    return blocker.fingerprint(docs).select(
        F.col("id").alias("doc_id"), "fingerprint"
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level SimHash candidate pairs (rows-only: UDF fingerprint)."""
    from deduplipy_spark.operators.simhash import simhash_pairs, with_simhash

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("file_id"), F.col("text").alias("content")
    )
    hashed = with_simhash(docs)
    return simhash_pairs(hashed, EngineConfig(), max_hamming=10).orderBy(
        "id_1", "id_2"
    )


def q_minhash_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified MinHash pair sampler (rows-only: UDF signatures)."""
    from deduplipy_spark.operators.sampling import minhash_sample

    docs = _docs(spark, sf_dir)
    return minhash_sample(
        docs, DOC_CFG, n_samples=100, min_sim=0.2, id_cols=("doc_id",)
    ).orderBy("id_1", "id_2")


def q_score_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-diagnostics histogram (active_learning.py:97-109) over the
    exact n-gram Jaccard pair scores — fully SQL-expressible."""
    from deduplipy_spark.operators.scoring import score_histogram

    scored = q_ngram_jaccard_pairs(spark, sf_dir).withColumnRenamed(
        "jaccard", "score"
    )
    return score_histogram(scored)


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.4; the synthetic
    embeddings table tops out ~0.51) — the exact baseline of the embedding
    dedup class; the scale path is the hyperplane-LSH bucketing in
    operators/similarity.embedding_dup_pairs_lsh (the
    embedding_dup_pairs_banded query, checked against this baseline)."""
    from deduplipy_spark.operators.similarity import cosine_col, norm_col

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # norms hoisted to the join sides (r6): bit-identical value (same fold,
    # same operands), evaluated once per vector instead of once per pair —
    # the higher-order aggregates are interpreted, so on the n^2 cartesian
    # the two norm folds were two thirds of the per-pair cost
    a = emb.select(F.col("vec_id").alias("id_1"),
                   F.col("embedding").cast("array<double>").alias("emb_1")
                   ).withColumn("_n1", norm_col("emb_1"))
    b = emb.select(F.col("vec_id").alias("id_2"),
                   F.col("embedding").cast("array<double>").alias("emb_2")
                   ).withColumn("_n2", norm_col("emb_2"))
    return (
        a.crossJoin(b)
        .where(F.col("id_1") < F.col("id_2"))
        .withColumn("cosine", F.round(cosine_col(na="_n1", nb="_n2"), 8))
        .where(F.col("cosine") >= 0.4)
        .select("id_1", "id_2", "cosine")
    )


def q_topk_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probe ANN (operators/similarity.ivf_topk): broadcast centroids,
    probe 8 of 16 cells, exact rerank — the scale path next to the
    brute-force baseline."""
    from deduplipy_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.where(F.col("vec_id") < 40)
    return ivf_topk(emb, queries, k=5, n_lists=16, n_probe=8)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (operators/winnow.py) — pure Column
    exprs; any shared substring >= w+k-1 chars shares a fingerprint."""
    from deduplipy_spark.operators.winnow import winnow_fingerprints

    docs = _docs(spark, sf_dir)
    return winnow_fingerprints(docs, k=8, w=4, id_col="doc_id",
                               text_col="text").withColumnRenamed("id", "doc_id")


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality heuristic (functions/text.quality_score)."""
    from deduplipy_spark.functions.text import quality_score

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        quality_score(F.coalesce(F.col("text"), F.lit(""))).alias("quality"),
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-containment verify over blocked candidates
    (operators/suffix.containment_pairs, the adjusted_partial_ratio role)."""
    from deduplipy_spark.operators.suffix import containment_pairs

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("file_id"), F.col("text").alias("content")
    )
    blocker = RuleBlocker({"content": [first_two_words]})
    cands = blocker.pairs(docs, EngineConfig(band_cap=100000))
    return containment_pairs(cands, docs)


def q_pair_mean_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by MEAN similarity across melted per-pair metrics — the
    reference's cross-column mean (minhash_sampling.py:61-65) re-expressed:
    metrics melt to (pair, metric, value), groupBy(pair).avg."""
    from deduplipy_spark.operators.ngram import (
        jaccard_col,
        split_words,
        word_ngrams_from,
    )
    from deduplipy_spark.operators.pairs import with_pair_sides

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("file_id"), F.col("text").alias("content")
    )
    blocker = RuleBlocker({"content": [first_two_words]})
    cands = blocker.pairs(docs, EngineConfig(band_cap=100000))
    # two-step projection (r6): materialize the trimmed split once per row
    # — a split embedded in the per-gram transform lambda would re-run per
    # gram (no CSE in lambda bodies); output identical
    feats = docs.select(
        "file_id",
        F.length(F.regexp_replace(F.col("content"), r"^\s+|\s+$", ""))
        .alias("_lt"),
        split_words(F.col("content")).alias("_w"),
    ).select(
        "file_id",
        word_ngrams_from(F.col("_w"), 3).alias("g3"),
        F.when(F.col("_lt") > 0, F.array_distinct(F.col("_w")))
        .otherwise(F.array().cast("array<string>"))
        .alias("w1"),
    )
    melted = (
        with_pair_sides(cands, feats, ["g3", "w1"])
        .select(
            "id_1", "id_2",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("trigram_jaccard").alias("metric"),
                        F.round(jaccard_col("g3_1", "g3_2"), 8).alias("value"),
                    ),
                    F.struct(
                        F.lit("word_jaccard").alias("metric"),
                        F.round(jaccard_col("w1_1", "w1_2"), 8).alias("value"),
                    ),
                )
            ).alias("m"),
        )
    )
    return (
        melted.groupBy("id_1", "id_2")
        .agg(F.round(F.avg("m.value"), 8).alias("mean_sim"))
    )


def q_embedding_dup_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via the SCALE path: hyperplane-LSH bands ->
    capped candidates -> exact cosine rerank (similarity.
    embedding_dup_pairs_lsh) — never a cartesian product. band_bits=4 is the
    recall-1.0 configuration for this table's moderate-cosine regime, so the
    verified output EQUALS the brute-force pair set and the cartesian SQL is
    a true independent oracle (the high-cosine dedup regime, where wider
    bands prune hard, is measured in tests/test_similarity_multimodal.py)."""
    from deduplipy_spark.operators.similarity import embedding_dup_pairs_lsh

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()[0])
    return embedding_dup_pairs_lsh(emb, threshold=0.4, dim=dim,
                                   n_bits=128, band_bits=4)


def q_containment_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment at scale: prefix/suffix band-key blocking
    (suffix.prefix_band_keys — no rule blocker, no quadratic expansion) ->
    capped candidates -> exact substring verify. Catches prepend/append-style
    containment; fully SQL-re-derivable (the band keys are substrings)."""
    from deduplipy_spark.operators.pairs import candidate_pairs
    from deduplipy_spark.operators.suffix import containment_pairs, prefix_band_keys

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("file_id"), F.col("text").alias("content")
    )
    bands = prefix_band_keys(docs, k=64)
    cands = candidate_pairs(bands, EngineConfig(band_cap=100000))
    return containment_pairs(cands, docs)


def q_dup_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated word-5-gram fraction per doc
    (functions/text.dup_ngram_stats — RefinedWeb-style repetition signal):
    flags templated/boilerplate text that survives whole-doc dedup."""
    from deduplipy_spark.functions.text import dup_ngram_stats

    docs = _docs(spark, sf_dir)
    return dup_ngram_stats(docs, "doc_id", "text", n=5,
                           gram_keys="string").select(
        F.col("id").alias("doc_id"), "n_grams", "dup_ngram_frac")


def q_dup_ngram_stats_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of dup_ngram_stats (VERDICT r4 #1): every shuffle keys
    on xxhash64(gram) — 8-byte longs, gram strings never leave the per-row
    projection — instead of 40+-byte gram strings (the single largest
    avoidable shuffle in the repo at 100 TB). The OUTPUT is key-free
    (per-doc counts/fractions), so the same string-gram DuckDB SQL is an
    exact oracle for it too, up to the 2^-64 xxhash64 collision bias."""
    from deduplipy_spark.functions.text import dup_ngram_stats

    docs = _docs(spark, sf_dir)
    return dup_ngram_stats(docs, "doc_id", "text", n=5,
                           gram_keys="hash").select(
        F.col("id").alias("doc_id"), "n_grams", "dup_ngram_frac")


def q_containment_pairs_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-file containment (VERDICT r3 #2): winnow fingerprints are
    POSITION-LOCAL shared keys — the MOSS guarantee (any shared substring
    of length >= w+k-1 yields a shared selected fingerprint) means a
    fully-contained document shares a fingerprint with its container
    WHEREVER it sits inside it. This closes the `cat a b c > big`
    vendoring case that whole-file prefix/suffix keys
    (q_containment_pairs_banded) structurally miss. Blocking: shared
    winnow fingerprint -> capped pair generator; verify: exact substring
    (grouped anchored rolling-hash scan, operators/suffix.py). The band
    cap is sized past the corpus so the DuckDB fingerprint-join SQL is an
    exact oracle; at 100 TB the same query runs with the production cap +
    star edges. pair_strategy='exact': the uncapped enumeration runs through
    the salted triangle-split generator — winnow bands are heavily skewed
    (boilerplate fingerprints) and the salted cells bound per-task work
    while producing the identical pair set (r6; 3.2x on sf0.1)."""
    from deduplipy_spark.operators.suffix import containment_pairs
    from deduplipy_spark.operators.winnow import winnow_candidate_pairs

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("file_id"), F.col("text").alias("content")
    )
    cands = winnow_candidate_pairs(
        docs, EngineConfig(band_cap=100000, pair_strategy="exact"))
    return containment_pairs(cands, docs)


def _media_from_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multimodal table synthesized from documents: payload =
    utf-8 bytes of text (an opaque blob as far as the media operators are
    concerned), kind cycles image/audio/video, typed metadata struct."""
    docs = _docs(spark, sf_dir)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    meta = F.struct(
        F.lit(64).alias("width"), F.lit(64).alias("height"),
        F.lit(16000).alias("sample_rate"),
        ((F.col("doc_id") % 10 + 1) * 1000).cast("int").alias("duration_ms"),
    )
    return docs.select(
        F.col("doc_id").alias("file_id"),
        kind.alias("kind"),
        F.encode(F.coalesce("text", F.lit("")), "utf-8").alias("payload"),
        meta.alias("meta"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal dedup features (operators/multimodal.media_dedup_features):
    sha256 of the payload + the deterministic stub feature vector, projected
    to scalar columns (feature checksum) for the hash gate. Oracle: pinned
    golden whose feature sums are RE-DERIVED single-node in
    scripts/make_goldens.py (sha-seeded stub is deterministic by design)."""
    from deduplipy_spark.operators.multimodal import media_dedup_features

    media = _media_from_docs(spark, sf_dir)
    feats = media_dedup_features(media)
    feat_sum = F.aggregate(
        F.col("feature").cast("array<double>"), F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return feats.select(
        "file_id", "kind", "payload_sha", "feat_dim",
        F.round(feat_sum, 6).alias("feat_sum"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (functions/text.py): duplicate-line
    fraction + top-word mass per document. top_word_ratio runs through the
    LENGTH-GATED operator (with_top_word_ratio): the gate is set at the
    corpus median word count so the oracle checks BOTH the narrow
    Column-expression path and the linear explode->groupBy path (plus the
    union seam between them) against the same DuckDB SQL."""
    from deduplipy_spark.functions.text import dup_line_ratio, with_top_word_ratio

    docs = _docs(spark, sf_dir)
    gated = with_top_word_ratio(docs, "text", out_col="_twr",
                                long_doc_words=56)
    return gated.select(
        "doc_id",
        F.round(dup_line_ratio(F.col("text")), 6).alias("dup_line_ratio"),
        F.round(F.col("_twr"), 6).alias("top_word_ratio"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship near-dup pipeline on /root/testdata/sf0.001."""
    return q_neardup_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_groups": q_exact_dup_groups,
        "exact_cluster_assign": q_exact_cluster_assign,
        "rule_pairs_first_two_words": q_rule_pairs_first_two_words,
        "rule_pairs_salted_exact": q_rule_pairs_salted_exact,
        "neardup_clusters": q_neardup_clusters,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "topk_cosine": q_topk_cosine,
        "norm_dup_groups": q_norm_dup_groups,
        "fingerprint_melt": q_fingerprint_melt,
        "simhash_pairs": q_simhash_pairs,
        "minhash_sample_pairs": q_minhash_sample_pairs,
        "score_histogram": q_score_histogram,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "topk_cosine_ivf": q_topk_cosine_ivf,
        "winnow_fingerprints": q_winnow_fingerprints,
        "quality_scores": q_quality_scores,
        "containment_pairs": q_containment_pairs,
        "pair_mean_similarity": q_pair_mean_similarity,
        "embedding_dup_pairs_banded": q_embedding_dup_pairs_banded,
        "containment_pairs_banded": q_containment_pairs_banded,
        "containment_pairs_winnow": q_containment_pairs_winnow,
        "media_features": q_media_features,
        "repetition_stats": q_repetition_stats,
        "dup_ngram_stats": q_dup_ngram_stats,
        "dup_ngram_stats_hashed": q_dup_ngram_stats_hashed,
    }


# Shared by "dup_ngram_stats" (string gram keys) AND "dup_ngram_stats_hashed"
# (xxhash64 gram keys): the output carries no gram column, only per-doc
# counts/fractions, so one string-gram SQL is an exact oracle for both paths.
_DUP_NGRAM_SQL = """
    WITH t AS (
        SELECT doc_id,
               regexp_replace(lower(coalesce(text, '')),
                              '^\\s+|\\s+$', '', 'g') AS tr
        FROM documents
    ),
    w AS (
        SELECT doc_id, string_split_regex(tr, '\\s+') AS ws
        FROM t WHERE length(tr) > 0
    ),
    g AS (
        SELECT doc_id, array_to_string(ws[u.i : u.i + 4], ' ') AS gram
        FROM w, UNNEST(generate_series(1, greatest(len(ws) - 5 + 1, 0))) AS u(i)
    ),
    shared AS (
        SELECT gram FROM (
            SELECT gram, count(DISTINCT doc_id) AS c FROM g GROUP BY 1
        ) WHERE c >= 2
    ),
    per AS (
        SELECT g.doc_id,
               count(*) AS n_grams,
               sum(CASE WHEN s.gram IS NOT NULL THEN 1 ELSE 0 END) AS dup
        FROM g LEFT JOIN shared s USING (gram)
        GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(per.n_grams, 0) AS n_grams,
           round(coalesce(per.dup * 1.0 / per.n_grams, 0.0), 6)
               AS dup_ngram_frac
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dup_groups": """
            SELECT sha256(coalesce(text, '')) AS content_sha,
                   min(doc_id) AS rep_id,
                   count(*) AS group_size
            FROM documents
            GROUP BY 1
        """,
        "exact_cluster_assign": """
            SELECT doc_id,
                   sha256(coalesce(text, '')) AS content_sha,
                   min(doc_id) OVER (PARTITION BY sha256(coalesce(text, '')))
                       AS cluster_id
            FROM documents
        """,
        "rule_pairs_first_two_words": """
            WITH fp AS (
                SELECT doc_id,
                       array_to_string(
                           (string_split_regex(trim(text), '\\s+'))[1:2], ' ') AS f
                FROM documents
                WHERE length(trim(text)) > 0
            )
            SELECT a.doc_id AS id_1, b.doc_id AS id_2
            FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
        """,
        "rule_pairs_salted_exact": """
            WITH fp AS (
                SELECT doc_id,
                       array_to_string(
                           (string_split_regex(trim(text), '\\s+'))[1:2], ' ') AS f
                FROM documents
                WHERE length(trim(text)) > 0
            )
            SELECT a.doc_id AS id_1, b.doc_id AS id_2
            FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
        """,
        "token_stats": """
            WITH t AS (
                SELECT doc_id, text,
                       regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS tr
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN length(tr) = 0 THEN 0
                        ELSE len(string_split_regex(tr, '\\s+')) END AS ws_tokens,
                   len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS bpe_tokens,
                   round(CASE WHEN len(regexp_extract_all(text, '\\S+')) = 0 THEN 0.0
                        ELSE length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE
                             / len(regexp_extract_all(text, '\\S+')) END, 6)
                       AS mean_word_len,
                   round(CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) = 0
                              THEN 0.0
                        ELSE len(list_filter(
                                 regexp_extract_all(lower(text), '[a-z]+'),
                                 x -> x IN ('the','and','of','to','a','in','is',
                                            'that','for','it')))::DOUBLE
                             / len(regexp_extract_all(lower(text), '[a-z]+')) END, 6)
                       AS stop_ratio
            FROM t
        """,
        "lang_id": """
            WITH w AS (
                SELECT doc_id,
                       regexp_extract_all(lower(text), '[a-zà-ÿäöüß]+') AS words,
                       length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk
                FROM documents
            ), hits AS (
                SELECT doc_id, cjk,
                    len(list_filter(words, x -> x IN ('the','and','is','of','that','with','for'))) AS en,
                    len(list_filter(words, x -> x IN ('el','la','los','las','que','por','una'))) AS es,
                    len(list_filter(words, x -> x IN ('le','les','des','est','une','dans','pour'))) AS fr,
                    len(list_filter(words, x -> x IN ('der','die','das','und','ist','nicht','mit'))) AS de
                FROM w
            )
            SELECT doc_id,
                   CASE WHEN cjk > 0 THEN 'zh'
                        WHEN greatest(en,es,fr,de) = 0 THEN 'und'
                        WHEN en = greatest(en,es,fr,de) THEN 'en'
                        WHEN es = greatest(en,es,fr,de) THEN 'es'
                        WHEN fr = greatest(en,es,fr,de) THEN 'fr'
                        ELSE 'de' END AS pred_lang
            FROM hits
        """,
        "ngram_jaccard_pairs": """
            WITH t AS (
                SELECT doc_id, regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS tr
                FROM documents
            ), fp AS (
                SELECT doc_id,
                       array_to_string((string_split_regex(tr, '\\s+'))[1:2], ' ') AS f
                FROM t WHERE length(tr) > 0
            ), cand AS (
                SELECT a.doc_id AS id_1, b.doc_id AS id_2
                FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
            ), grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, len(string_split_regex(tr, '\\s+')) - 2),
                           i -> array_to_string(
                               (string_split_regex(tr, '\\s+'))[i:i+2], ' ')))
                           AS g
                FROM t
            )
            SELECT c.id_1, c.id_2,
                   round(CASE WHEN len(list_distinct(g1.g || g2.g)) = 0 THEN 0.0
                        ELSE len(list_intersect(g1.g, g2.g))::DOUBLE
                             / len(list_distinct(g1.g || g2.g)) END, 8) AS jaccard
            FROM cand c
            JOIN grams g1 ON g1.doc_id = c.id_1
            JOIN grams g2 ON g2.doc_id = c.id_2
            WHERE round(CASE WHEN len(list_distinct(g1.g || g2.g)) = 0 THEN 0.0
                        ELSE len(list_intersect(g1.g, g2.g))::DOUBLE
                             / len(list_distinct(g1.g || g2.g)) END, 8) >= 0.2
        """,
        "topk_cosine": """
            SELECT q.vec_id AS query_id,
                   c.vec_id AS neighbor_id,
                   round(list_cosine_similarity(q.embedding::DOUBLE[],
                                                c.embedding::DOUBLE[]), 8) AS cosine,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]), 8) DESC, c.vec_id
                   ) AS rank
            FROM embeddings q CROSS JOIN embeddings c
            WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id
            QUALIFY rank <= 5
        """,
        "norm_dup_groups": """
            SELECT regexp_replace(regexp_replace(lower(coalesce(text, '')),
                       '\\s+', ' ', 'g'), '^ | $', '', 'g') AS norm,
                   min(doc_id) AS rep_id,
                   count(*) AS group_size
            FROM documents
            GROUP BY 1
        """,
        "fingerprint_melt": """
            WITH t AS (
                SELECT doc_id, regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS tr
                FROM documents
            )
            SELECT doc_id,
                   (string_split_regex(tr, '\\s+'))[1] || ':0' AS fingerprint
            FROM t WHERE length(tr) > 0
            UNION ALL
            SELECT doc_id,
                   (string_split_regex(tr, '\\s+'))[-1] || ':1' AS fingerprint
            FROM t WHERE length(tr) > 0
        """,
        "score_histogram": """
            WITH t AS (
                SELECT doc_id, regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS tr
                FROM documents
            ), fp AS (
                SELECT doc_id,
                       array_to_string((string_split_regex(tr, '\\s+'))[1:2], ' ') AS f
                FROM t WHERE length(tr) > 0
            ), cand AS (
                SELECT a.doc_id AS id_1, b.doc_id AS id_2
                FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
            ), grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, len(string_split_regex(tr, '\\s+')) - 2),
                           i -> array_to_string(
                               (string_split_regex(tr, '\\s+'))[i:i+2], ' ')))
                           AS g
                FROM t
            ), scored AS (
                SELECT round(CASE WHEN len(list_distinct(g1.g || g2.g)) = 0 THEN 0.0
                            ELSE len(list_intersect(g1.g, g2.g))::DOUBLE
                                 / len(list_distinct(g1.g || g2.g)) END, 8) AS score
                FROM cand c
                JOIN grams g1 ON g1.doc_id = c.id_1
                JOIN grams g2 ON g2.doc_id = c.id_2
            )
            SELECT round(least(floor(score / 0.05), 19) * 0.05, 6) AS bin_low,
                   count(*) AS n
            FROM scored
            WHERE score >= 0.2
            GROUP BY 1 ORDER BY 1
        """,
        # neardup_clusters / simhash_pairs / minhash_sample_pairs: UDF
        # signatures + iterative CC — not ANSI-SQL RE-DERIVABLE. Their
        # oracle is a PINNED GOLDEN: the deterministic sf0.01 output,
        # independently validated in pytest (flagship: recall/precision 1.0
        # vs a single-node replica AND planted truth; simhash: bit-equality
        # vs a scalar reference; sampler: seeded contract tests), stored
        # under goldens/ (scripts/make_goldens.py regenerates). The hash
        # check then catches any regression or nondeterminism.
        "neardup_clusters": """
            SELECT file_id, content_sha, cluster_id
            FROM read_parquet('/root/repo/goldens/neardup_clusters_sf0.01.parquet')
        """,
        "simhash_pairs": """
            SELECT id_1, id_2, hamming
            FROM read_parquet('/root/repo/goldens/simhash_pairs_sf0.01.parquet')
        """,
        "minhash_sample_pairs": """
            SELECT id_1, id_2, jaccard_sim
            FROM read_parquet('/root/repo/goldens/minhash_sample_pairs_sf0.01.parquet')
        """,
        "embedding_dup_pairs": """
            SELECT a.vec_id AS id_1, b.vec_id AS id_2,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 8)
                       AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 8) >= 0.4
        """,
        "topk_cosine_ivf": """
            WITH cent AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id,
                       embedding::DOUBLE[] AS centroid
                FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
            ), corp AS (
                SELECT e.vec_id AS neighbor_id, e.embedding::DOUBLE[] AS emb2,
                       c.list_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(
                               e.embedding::DOUBLE[], c.centroid), 8) DESC,
                               c.list_id
                       ) AS r
                FROM embeddings e CROSS JOIN cent c
                QUALIFY r = 1
            ), qc AS (
                SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS emb1,
                       c.list_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(
                               q.embedding::DOUBLE[], c.centroid), 8) DESC,
                               c.list_id
                       ) AS r
                FROM embeddings q CROSS JOIN cent c
                WHERE q.vec_id < 40
                QUALIFY r <= 8
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT qc.query_id, corp.neighbor_id,
                       round(list_cosine_similarity(qc.emb1, corp.emb2), 8)
                           AS cosine,
                       row_number() OVER (
                           PARTITION BY qc.query_id
                           ORDER BY round(list_cosine_similarity(
                               qc.emb1, corp.emb2), 8) DESC, corp.neighbor_id
                       ) AS rank
                FROM qc JOIN corp USING (list_id)
                WHERE qc.query_id <> corp.neighbor_id
            ) WHERE rank <= 5
        """,
        "winnow_fingerprints": """
            WITH t AS (SELECT doc_id, coalesce(text,'') AS text FROM documents),
            g AS (
                SELECT doc_id, u.i AS i, sha256(substring(text, u.i, 8)) AS h,
                       greatest(length(text) - 8 + 1, 0) AS ng
                FROM t, UNNEST(generate_series(1, greatest(length(text) - 8 + 1, 0))) AS u(i)
            ),
            wmin AS (
                SELECT doc_id, i, ng,
                       min(h) OVER (PARTITION BY doc_id ORDER BY i
                                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                FROM g
            )
            SELECT DISTINCT doc_id, fp FROM wmin
            WHERE i <= greatest(ng - 4 + 1, least(ng, 1))
        """,
        "quality_scores": """
            WITH t AS (
                SELECT doc_id, coalesce(text, '') AS x FROM documents
            ), parts AS (
                SELECT doc_id,
                    length(x) AS n,
                    CASE WHEN length(x) = 0 THEN 0.0
                         ELSE length(regexp_replace(x, '[^[:punct:]]', '', 'g'))::DOUBLE
                              / length(x) END AS punct_ratio,
                    CASE WHEN len(regexp_extract_all(lower(x), '[a-z]+')) = 0 THEN 0.0
                         ELSE len(list_filter(regexp_extract_all(lower(x), '[a-z]+'),
                                  w -> w IN ('the','and','of','to','a','in','is',
                                             'that','for','it')))::DOUBLE
                              / len(regexp_extract_all(lower(x), '[a-z]+')) END
                        AS stop_ratio,
                    CASE WHEN len(regexp_extract_all(x, '\\S+')) = 0 THEN 0.0
                         ELSE length(regexp_replace(x, '\\s', '', 'g'))::DOUBLE
                              / len(regexp_extract_all(x, '\\S+')) END AS mwl
                FROM t
            )
            SELECT doc_id, round((
                (CASE WHEN n BETWEEN 50 AND 10000 THEN 1.0
                      WHEN n < 50 THEN n / 50.0
                      ELSE 10000.0 / n END)
                + (1.0 - least(1.0, punct_ratio * 4))
                + least(1.0, stop_ratio * 5)
                + (CASE WHEN mwl BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
            ) / 4, 6) AS quality
            FROM parts
        """,
        "containment_pairs": """
            WITH t AS (
                SELECT doc_id, regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS tr,
                       text FROM documents
            ), fp AS (
                SELECT doc_id,
                       array_to_string((string_split_regex(tr, '\\s+'))[1:2], ' ') AS f
                FROM t WHERE length(tr) > 0
            ), cand AS (
                SELECT a.doc_id AS id_1, b.doc_id AS id_2
                FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
            )
            SELECT c.id_1, c.id_2, 1.0::DOUBLE AS containment
            FROM cand c
            JOIN t t1 ON t1.doc_id = c.id_1
            JOIN t t2 ON t2.doc_id = c.id_2
            WHERE length(coalesce(t1.text, '')) > 0
              AND length(coalesce(t2.text, '')) > 0
              AND CASE WHEN length(t1.text) <= length(t2.text)
                       THEN strpos(t2.text, t1.text) > 0
                       ELSE strpos(t1.text, t2.text) > 0 END
        """,
        "pair_mean_similarity": """
            WITH t AS (
                SELECT doc_id, regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS tr
                FROM documents
            ), fp AS (
                SELECT doc_id,
                       array_to_string((string_split_regex(tr, '\\s+'))[1:2], ' ') AS f
                FROM t WHERE length(tr) > 0
            ), cand AS (
                SELECT a.doc_id AS id_1, b.doc_id AS id_2
                FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
            ), feats AS (
                SELECT doc_id,
                    list_distinct(list_transform(
                        generate_series(1, len(string_split_regex(tr, '\\s+')) - 2),
                        i -> array_to_string(
                            (string_split_regex(tr, '\\s+'))[i:i+2], ' '))) AS g3,
                    CASE WHEN length(tr) = 0 THEN []::VARCHAR[]
                         ELSE list_distinct(string_split_regex(tr, '\\s+')) END AS w1
                FROM t
            ), melted AS (
                SELECT c.id_1, c.id_2,
                    round(CASE WHEN len(list_distinct(a.g3 || b.g3)) = 0 THEN 0.0
                         ELSE len(list_intersect(a.g3, b.g3))::DOUBLE
                              / len(list_distinct(a.g3 || b.g3)) END, 8) AS value
                FROM cand c JOIN feats a ON a.doc_id = c.id_1
                            JOIN feats b ON b.doc_id = c.id_2
                UNION ALL
                SELECT c.id_1, c.id_2,
                    round(CASE WHEN len(list_distinct(a.w1 || b.w1)) = 0 THEN 0.0
                         ELSE len(list_intersect(a.w1, b.w1))::DOUBLE
                              / len(list_distinct(a.w1 || b.w1)) END, 8) AS value
                FROM cand c JOIN feats a ON a.doc_id = c.id_1
                            JOIN feats b ON b.doc_id = c.id_2
            )
            SELECT id_1, id_2, round(avg(value), 8) AS mean_sim
            FROM melted GROUP BY id_1, id_2
        """,
        # the banded query verifies candidates with the EXACT cosine and its
        # band config has recall 1.0 on this table (measured in pytest), so
        # the brute-force cartesian SQL is a genuine independent oracle for
        # the banded dataflow — if banding ever drops a true pair, the hash
        # check fails
        "embedding_dup_pairs_banded": """
            SELECT a.vec_id AS id_1, b.vec_id AS id_2,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 8)
                       AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 8) >= 0.4
        """,
        "dup_ngram_stats": _DUP_NGRAM_SQL,
        "containment_pairs_winnow": """
            WITH t AS (SELECT doc_id, coalesce(text,'') AS text FROM documents),
            g AS (
                SELECT doc_id, u.i AS i, sha256(substring(text, u.i, 8)) AS h,
                       greatest(length(text) - 8 + 1, 0) AS ng
                FROM t, UNNEST(generate_series(1, greatest(length(text) - 8 + 1, 0))) AS u(i)
            ),
            wmin AS (
                SELECT doc_id, i, ng,
                       min(h) OVER (PARTITION BY doc_id ORDER BY i
                                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                FROM g
            ),
            fps AS (
                SELECT DISTINCT doc_id, fp FROM wmin
                WHERE i <= greatest(ng - 4 + 1, least(ng, 1))
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
                FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
            )
            SELECT c.id_1, c.id_2, 1.0::DOUBLE AS containment
            FROM cand c
            JOIN t t1 ON t1.doc_id = c.id_1
            JOIN t t2 ON t2.doc_id = c.id_2
            WHERE length(t1.text) > 0 AND length(t2.text) > 0
              AND CASE WHEN length(t1.text) <= length(t2.text)
                       THEN strpos(t2.text, t1.text) > 0
                       ELSE strpos(t1.text, t2.text) > 0 END
        """,
        "containment_pairs_banded": """
            WITH t AS (
                SELECT doc_id, coalesce(text, '') AS x FROM documents
                WHERE length(coalesce(text, '')) > 0
            ), keys AS (
                SELECT doc_id, 'p' || substr(x, 1, 64) AS k FROM t
                UNION ALL
                SELECT doc_id,
                       's' || CASE WHEN length(x) >= 64
                                   THEN substr(x, length(x) - 63)
                                   ELSE x END AS k
                FROM t
            ), cand AS (
                SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
                FROM keys a JOIN keys b ON a.k = b.k AND a.doc_id < b.doc_id
            )
            SELECT c.id_1, c.id_2, 1.0::DOUBLE AS containment
            FROM cand c
            JOIN t t1 ON t1.doc_id = c.id_1
            JOIN t t2 ON t2.doc_id = c.id_2
            WHERE CASE WHEN length(t1.x) <= length(t2.x)
                       THEN strpos(t2.x, t1.x) > 0
                       ELSE strpos(t1.x, t2.x) > 0 END
        """,
        # sha-seeded stub features are not SQL-expressible; golden is
        # re-derived single-node (hashlib + numpy Philox) in
        # scripts/make_goldens.py — independent of the Spark dataflow
        "media_features": """
            SELECT file_id, kind, payload_sha, feat_dim, feat_sum
            FROM read_parquet('/root/repo/goldens/media_features_sf0.01.parquet')
        """,
        "repetition_stats": """
            WITH t AS (
                SELECT doc_id, coalesce(text, '') AS x FROM documents
            ), lines AS (
                SELECT doc_id,
                       list_filter(string_split(x, chr(10)),
                                   l -> length(regexp_replace(
                                       l, '^\\s+|\\s+$', '', 'g')) > 0) AS ls
                FROM t
            ), words AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(
                                lower(x), '^\\s+|\\s+$', '', 'g')) = 0
                            THEN []::VARCHAR[]
                            ELSE string_split_regex(regexp_replace(
                                lower(x), '^\\s+|\\s+$', '', 'g'), '\\s+')
                       END AS ws
                FROM t
            )
            SELECT l.doc_id,
                   round(CASE WHEN len(ls) <= 0 THEN 0.0
                        ELSE 1.0 - len(list_distinct(ls))::DOUBLE / len(ls)
                        END, 6) AS dup_line_ratio,
                   round(CASE WHEN len(ws) <= 0 THEN 0.0
                        ELSE list_max(list_transform(list_distinct(ws),
                             w -> len(list_filter(ws, v -> v = w))))::DOUBLE
                             / len(ws) END, 6) AS top_word_ratio
            FROM lines l JOIN words USING (doc_id)
        """,
        # hashed scale path: key-free per-doc output, so the string-gram
        # SQL is an exact oracle for it too (2^-64 collision bias aside)
        "dup_ngram_stats_hashed": _DUP_NGRAM_SQL,
    }
