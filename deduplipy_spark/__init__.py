"""deduplipy_spark — a PySpark-native near-duplicate detection & clustering engine.

From-scratch re-imagining of hokkiefrank/deduplipy's block→score→cluster
pipeline (see SURVEY.md) over code-file tables at cluster scale: char-shingle
MinHash/LSH blocking, distributed connected components, per-component
agglomerative clustering via applyInPandas, checkpoint/resume.
"""

from deduplipy_spark.config import DEFAULT_CONFIG, EngineConfig

__version__ = "0.1.0"
__all__ = ["EngineConfig", "DEFAULT_CONFIG"]
