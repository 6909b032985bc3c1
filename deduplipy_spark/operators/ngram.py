"""Word n-gram Jaccard dedup — the exact-set-similarity path.

Unlike MinHash (estimate), this computes TRUE Jaccard over word n-gram sets
with pure Column expressions (array_distinct/intersect/union — codegen,
SQL-expressible, DuckDB-oracle checkable). Quadratic in block size, so it
always runs behind a blocker (rule-based or LSH candidates): the standard
"cheap filter → exact verify" two-phase of set-similarity joins (PPJoin
family); here the verify phase is the exact Jaccard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def split_words(x: Column) -> Column:
    """Trimmed whitespace split — the words array `word_ngrams_from` takes.
    Always materialize it in its OWN projection first: lambda bodies get
    no common-subexpression elimination, so a split referenced inside the
    per-gram transform re-runs the regex split for every gram (the r6
    text.py finding — measured ~15x on the gram stage there)."""
    return F.split(F.regexp_replace(x, r"^\s+|\s+$", ""), r"\s+")


def word_ngrams_from(words: Column, n: int = 3) -> Column:
    """Distinct word n-grams from an (ideally materialized) words array."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - n + 1),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    # sequence(1, k) DESCENDS for k < 1 — guard short inputs to []
    return F.when(F.size(words) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def jaccard_col(a: str = "grams_1", b: str = "grams_2") -> Column:
    inter = F.size(F.array_intersect(F.col(a), F.col(b)))
    union = F.size(F.array_union(F.col(a), F.col(b)))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame, candidates: DataFrame, n: int = 3, threshold: float = 0.5,
    id_col: str = "file_id", content_col: str = "content",
) -> DataFrame:
    """(id_1, id_2, jaccard) exact word-n-gram Jaccard over candidate pairs."""
    # defensive repartition + two-step projection so the words split runs
    # once per row, not once per gram (no CSE in lambda bodies)
    from deduplipy_spark.operators.pairs import with_pair_sides
    from deduplipy_spark.partitioning import ensure_parallelism

    df = ensure_parallelism(df)
    grams = df.select(
        F.col(id_col).alias("id"), split_words(F.col(content_col)).alias("_w")
    ).select("id", word_ngrams_from(F.col("_w"), n).alias("grams"))
    return (
        with_pair_sides(candidates, grams, ["grams"], "id")
        .withColumn("jaccard", F.round(jaccard_col(), 8))
        .where(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )
