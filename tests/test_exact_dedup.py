"""M1: identity + exact-dup slice (sha invariant per BASELINE.json)."""

import pyspark.sql.functions as F

from deduplipy_spark.ids import with_identity
from deduplipy_spark.sources.datagen import gen_files, gen_pandas


def test_datagen_deterministic_across_parallelism(spark):
    a = gen_files(spark, 100, 10, partitions=2).orderBy("row_idx").toPandas()
    b = gen_files(spark, 100, 10, partitions=16).orderBy("row_idx").toPandas()
    c = gen_pandas(100, 10)
    assert (a["content"] == b["content"]).all()
    assert (a["content"].values == c["content"].values).all()


def test_sha_invariant_and_exact_clusters(spark):
    files = with_identity(gen_files(spark, 60, 12, members=5, partitions=4))
    # per-row invariant: content_sha == sha2(content,256) recomputed
    bad = files.where(F.col("content_sha") != F.sha2("content", 256)).count()
    assert bad == 0
    # file_id is unique (natural key collision would break everything downstream)
    n = files.count()
    assert files.select("file_id").distinct().count() == n

