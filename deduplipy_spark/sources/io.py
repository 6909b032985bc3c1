"""TableIO — checkpointed stage tables with manifests (resume support).

The reference's only persistence is a debug CSV dump
(``deduplipy/blocking/blocking.py:132-133``, ``deduplicator.py:204-205``) and
pickling the whole model. Ours: each pipeline stage writes a parquet dir
(Iceberg table in prod — same call sites) plus a ``_manifest.json`` carrying
(stage, config_hash, input_key, row_count).
A re-run skips any stage whose manifest matches the current config hash —
this is the "resumes mid-pipeline" requirement of the north rule.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"


def input_fingerprint(df: DataFrame, extra=None) -> str:
    """Identity of a stage-pipeline INPUT: semantic plan hash + the concrete
    files behind the scan (+ any caller variant like learned rules).

    Without this, a rerun on different data with the same checkpoint_dir and
    config silently returns stale stage outputs (resume keyed on config hash
    alone). Same path + same plan + same file listing => same fingerprint;
    in-place rewrites of identical file names are the documented blind spot
    (prod uses Iceberg snapshot ids here).
    """
    import hashlib
    import json

    parts = {
        "semantic": df.semanticHash(),
        "files": sorted(df.inputFiles()),
        "extra": extra,
    }
    blob = json.dumps(parts, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


class TableIO:
    def __init__(self, spark: SparkSession, root: str, config_hash: str,
                 input_key: str | None = None, resume: bool = True) -> None:
        """resume=False turns the manifest skip OFF: every stage is written
        fresh (the reference's debug-dump role, blocking.py:132-133 /
        deduplicator.py:204-205 — ``save_intermediate_steps``), while
        resume=True is the checkpoint/restart contract."""
        self.spark = spark
        self.root = root
        self.config_hash = config_hash
        self.input_key = input_key
        self.resume = resume
        os.makedirs(root, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def manifest(self, stage: str) -> dict[str, Any] | None:
        p = os.path.join(self._path(stage), MANIFEST)
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            # a kill mid-write leaves a truncated manifest: treat the stage
            # as incomplete (recompute) instead of failing the resume
            return None

    def is_done(self, stage: str) -> bool:
        m = self.manifest(stage)
        return bool(
            m
            and m.get("config_hash") == self.config_hash
            and m.get("input_key") == self.input_key
            and m.get("complete")
        )

    def write(self, stage: str, df: DataFrame) -> DataFrame:
        """Write stage table + manifest.

        Returns the re-read DataFrame (plan cut at a durable boundary)."""
        path = self._path(stage)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        self._finish(stage, out)
        return out

    def _finish(self, stage: str, out: DataFrame) -> None:
        """Manifest for a just-written stage. ``row_count`` (one count of
        the written table) lets a resumed run skip the CC size-gate count."""
        man = {
            "stage": stage,
            "config_hash": self.config_hash,
            "input_key": self.input_key,
            "row_count": out.count(),
            "complete": True,
        }
        # atomic: a crash between write and rename leaves no manifest at all
        final = os.path.join(self._path(stage), MANIFEST)
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=2)
        os.replace(tmp, final)

    def table_name(self, stage: str) -> str:
        """Catalog name for a bucketed stage — keyed by the checkpoint root
        so two TableIO roots in one session can never alias each other's
        tables."""
        import hashlib

        root_key = hashlib.sha256(self.root.encode()).hexdigest()[:8]
        return f"dedup_{root_key}_{stage}"

    def read(self, stage: str) -> DataFrame:
        """Read a completed stage. A bucketed stage resolves through the
        session catalog (bucket metadata lives there, so the co-located
        layout survives for joins); in a FRESH session the in-memory
        catalog is empty and the same parquet files read back plain —
        correct, just without the exchange elision (prod: Iceberg bucket
        transforms make the layout durable)."""
        name = self.table_name(stage)
        try:
            if self.spark.catalog.tableExists(name):
                return self.spark.table(name)
        except Exception:          # no catalog / unsupported: plain read
            pass
        return self.spark.read.parquet(self._path(stage))

    def write_or_skip(self, stage: str, df_fn,
                      bucket_cols: list[str] | None = None, **kw) -> DataFrame:
        """Resume point: skip stage when a manifest with matching config exists."""
        if self.resume and self.is_done(stage):
            return self.read(stage)
        if bucket_cols:
            return self.write_bucketed(stage, df_fn(), bucket_cols, **kw)
        return self.write(stage, df_fn(), **kw)

    def write_bucketed(self, stage: str, df: DataFrame, bucket_cols: list[str],
                       n_buckets: int = 32) -> DataFrame:
        """Bucketed stage table, with the same manifest contract as
        ``write`` (resume-able).

        Bucketing persists a hash partitioning: every downstream operator
        keyed on `bucket_cols` — the band-key window/groupBy of the pair
        generator, or an equi-join on file_id — reads the table WITHOUT a
        shuffle (no Exchange in the plan). This is the co-located-join
        layout the north rule asks for; in prod the same call site targets
        an Iceberg table with a bucket partition transform. Requires a
        session catalog (saveAsTable).
        """
        name = self.table_name(stage)
        (df.write.mode("overwrite").format("parquet")
         .bucketBy(n_buckets, *bucket_cols)
         .option("path", self._path(stage)).saveAsTable(name))
        out = self.spark.table(name)
        self._finish(stage, out)
        return out
