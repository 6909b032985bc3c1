"""Demo dataset loaders — parity with ``deduplipy/datasets.py:7-38``.

The reference ships a 1,746-row typo-ridden voters CSV and a stoxx50 Excel
sheet as package data. We synthesize equivalent-shaped corpora
deterministically (no external data in this sandbox) and expose the same
dispatcher API:

    load_data(spark, kind='voters')  -> DataFrame(name, suburb, postcode)
    load_data(spark, kind='stoxx50') -> DataFrame(name)

CSV/parquet scans are plain ``spark.read`` (``cli run --format csv``);
Excel scans are not needed (SURVEY §2.1), so the stoxx50 sheet's shape is
synthesized rather than read.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_FIRST = ["kimberly", "robert", "maria", "james", "linda", "ahmed", "chen",
          "fatima", "jose", "anna"]
_LAST = ["smith", "jones", "garcia", "miller", "davis", "lopez", "wilson",
         "anderson", "thomas", "taylor"]
_SUBURBS = ["springfield", "rivertown", "lakeside", "hillcrest", "oakwood"]
_COMPANIES = ["adidas", "airbus", "allianz", "basf", "bayer", "bmw", "danone",
              "enel", "iberdrola", "loreal", "nokia", "sanofi", "siemens",
              "totalenergies", "vonovia"]


def _typo(rng: random.Random, s: str) -> str:
    """OCR-style corruption mirroring voter_names.csv (kimberiy, 28o81)."""
    if not s or rng.random() < 0.4:
        return s
    ops = rng.randrange(3)
    i = rng.randrange(len(s))
    if ops == 0:                                   # substitute look-alike
        subs = {"l": "i", "i": "l", "o": "0", "0": "o", "e": "c", "8": "s"}
        return s[:i] + subs.get(s[i], "x") + s[i + 1:]
    if ops == 1 and len(s) > 2:                    # drop char
        return s[:i] + s[i + 1:]
    return s[:i] + s[i] + s[i:]                    # double char


def voters_pandas(n: int = 1746, seed: int = 42) -> pd.DataFrame:
    rng = random.Random(f"voters-{seed}")
    rows = []
    n_entities = n // 3
    for e in range(n_entities):
        name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
        suburb = rng.choice(_SUBURBS)
        postcode = str(rng.randrange(10000, 99999))
        for _ in range(1 + rng.randrange(4)):
            rows.append((
                _typo(rng, name), _typo(rng, suburb), _typo(rng, postcode)
            ))
            if len(rows) >= n:
                break
        if len(rows) >= n:
            break
    while len(rows) < n:
        rows.append((rng.choice(_FIRST), rng.choice(_SUBURBS),
                     str(rng.randrange(10000, 99999))))
    return pd.DataFrame(rows[:n], columns=["name", "suburb", "postcode"])


def stoxx50_pandas(seed: int = 42) -> pd.DataFrame:
    rng = random.Random(f"stoxx-{seed}")
    rows = []
    for c in _COMPANIES:
        rows.append(c)
        rows.append(c + " se")
        rows.append(_typo(rng, c))
    return pd.DataFrame({"name": rows})


def load_data(spark: SparkSession, kind: str = "voters", **kw) -> DataFrame:
    """Dispatcher mirroring deduplipy.datasets.load_data (datasets.py:21-38)."""
    if kind == "voters":
        return spark.createDataFrame(voters_pandas(**kw))
    if kind == "stoxx50":
        return spark.createDataFrame(stoxx50_pandas(**kw))
    raise ValueError(f"unknown dataset kind: {kind!r}")

