"""DedupPipeline — the flagship block→score→cluster dataflow.

Mirrors ``Deduplicator.predict`` (``deduplipy/deduplicator/deduplicator.py:
167-213``) stage for stage (SURVEY §3.1), re-expressed Spark-first:

 1. identity        sha2/xxhash64 exprs                (narrow)
 2. exact pre-pass  groupBy(content_sha) reps          (1 shuffle)   ≈ drop_duplicates
 3. signatures      shingle+MinHash pandas UDF         (narrow)
 4. bands           JVM band-key explode               (narrow)
 5. candidates      capped band groupBy + combinations (1-2 shuffles;
                    cfg.pair_strategy="exact": salted split, pairs.py)
 6. scoring         sig joins + Arrow slot-agreement   (2 joins)
                    (exact-sha override lives in the pre-pass, not here)
 7. components      iterative min-label propagation    (looped)
 8. HAC             mapInPandas over slot-placed edges (1 shuffle)
 9. assignment      exact members ⟕ near-dup clusters  (broadcast-able joins)

Every stage can checkpoint through TableIO (manifest keyed by config hash →
resume skips completed stages). Output contract: one row per input file with
(file_id, repo, path, commit, lang, content_sha, cluster_id) where
cluster_id = min(file_id) over the duplicate group (exact + near), and
singletons keep cluster_id = file_id (reference's singleton backfill,
deduplicator.py:149-165, without the order-dependent counter).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduplipy_spark.config import EngineConfig
from deduplipy_spark.ids import with_identity
from deduplipy_spark.operators.agglomerate import cluster_components
from deduplipy_spark.operators.components import connected_components
from deduplipy_spark.operators.minhash import band_keys, with_signatures
from deduplipy_spark.operators.pairs import candidate_pairs
from deduplipy_spark.operators.scoring import score_pairs
from deduplipy_spark.partitioning import ensure_parallelism
from deduplipy_spark.sources.io import TableIO, input_fingerprint


class DedupPipeline:
    def __init__(self, spark: SparkSession, cfg: EngineConfig | None = None,
                 rules_selected: list[tuple[str, int]] | None = None) -> None:
        """rules_selected: learned blocking rules [(col, rule_idx)] from
        Deduplicator.fit / operators.set_cover — their band keys are UNIONED
        with the MinHash bands, so learned rules add candidate recall on top
        of LSH (the reference's Blocking.transform role, blocking.py:129-131).

        Hot bands follow ``cfg.pair_strategy``: 'capped' (default) caps the
        expansion and keeps connectivity with star edges — but a star pair
        must still SCORE above the threshold to survive, so under an
        aggressive cap a hot band's far members can detach. 'exact' scores
        every band pair (salted split, per-task work still bounded), trading
        pair volume for exact clustering on skewed corpora. The field is in
        the config hash, so a resume never serves candidates produced under
        the other strategy.
        """
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.rules_selected = rules_selected or None
        self.io: TableIO | None = None   # constructed per-run (input-keyed)
        # DAG cuts (_cut) of THIS instance's most recent run: released
        # at the start of its next run, or via close(). Per-instance (ADVICE
        # r4 #5): a process-global registry let any pipeline's run() unpersist
        # another pipeline's still-consumed caches (silent recompute) and
        # raced under concurrent runs.
        self._cached: list[DataFrame] = []

    # stages whose output is consumed by MORE than one downstream action —
    # only these need a DAG cut when running without durable checkpoints
    # (cutting every stage costs one extra materialization pass each; at
    # 100k files that fixed overhead exceeded the parallel work)
    _REUSED = {"files_hashed", "rep_ids", "signatures", "scored_pairs",
               "components"}

    def _cut(self, df: DataFrame) -> DataFrame:
        """Cut the DAG at `df`: the package's one rule for persisting an
        intermediate relation. Cut a relation that has more than one
        consumer when no durable TableIO checkpoint already cuts it;
        release happens on close() / the next run().

        persist(), NOT localCheckpoint(): an eager checkpoint per cut is its
        own job — a fixed serial barrier each — and even localCheckpoint(
        eager=False) resolves the AQE final plan at call time, executing
        every shuffle stage serially per cut (measured: the "lazy" cuts
        still ran 0.1-3.1s each at build). persist marks the plan for
        caching and stays fully lazy, so the FIRST downstream action (the
        CC size-gate count) materializes the whole cascade in one job.
        Lineage growth is linear here (one-shot pipeline), unlike the CC
        loop, which keeps localCheckpoint for its iterative plan.

        DESER level: the serialized/columnar default pays a compression+
        encoding pass per cached relation that showed up as a flat +8s at
        local[2] on the 400k corpus; deserialized caching matched the
        eager-checkpoint wall at 2 cores while keeping the one-cascade job
        structure.
        """
        df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        self._cached.append(df)
        return df

    def _stage(self, name: str, fn, **kw) -> DataFrame:
        if self.io is not None:
            return self.io.write_or_skip(name, fn, **kw)
        out = fn()
        # without durable checkpoints the pipeline is still multi-action
        # (CC loop, grouped-map): cut where stage outputs are reused so the
        # UDF-heavy upstream is not recomputed per action
        return self._cut(out) if name in self._REUSED else out

    def close(self) -> None:
        """Release this instance's persisted stage caches (the returned
        DataFrame of the last run() recomputes if consumed afterwards).
        Note Spark's CacheManager keys storage by logical plan, so two
        pipelines over a plan-identical input+config share entries — close()
        on one releases the shared cache for both (Spark semantics)."""
        for df in self._cached:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass            # session of that run may already be stopped
        self._cached = []

    def run(self, files: DataFrame) -> DataFrame:
        self.close()            # release THIS instance's previous-run caches
        cfg = self.cfg
        if cfg.checkpoint_dir or cfg.save_intermediate_steps:
            # resume key = config hash + INPUT identity (+ learned rules):
            # same checkpoint_dir with different data must recompute, not
            # silently serve stale stage outputs. Without a checkpoint_dir,
            # save_intermediate_steps is the reference's debug-dump flag
            # (blocking.py:132-133): every stage table is written fresh to a
            # cwd-relative dir — stage DUMPS for inspection, not resume (no
            # manifest skip)
            self.io = TableIO(
                self.spark,
                cfg.checkpoint_dir
                or os.path.abspath("deduplipy_intermediate_steps"),
                cfg.config_hash(),
                input_key=input_fingerprint(files, extra=self.rules_selected),
                resume=bool(cfg.checkpoint_dir),
            )
        # The per-input conf overrides below (shuffle sizing + AQE coalesce
        # toggle) are restored on exit (ADVICE r4 #2): they no longer leak
        # into unrelated queries on the same session, and a later run with
        # in_bytes==0 (in-memory input) sees true session defaults instead
        # of a previous run's stale sizing. Safe to restore here: every
        # expensive stage is materialized INSIDE _run_sized (persist-cascade
        # count / eager checkpoint writes); only the small assignment joins
        # and the HAC grouped-map (explicit numPartitions, conf-independent)
        # execute after run() returns.
        conf = self.spark.conf
        restore = {k: conf.get(k, None) for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")}
        try:
            return self._run_sized(files, cfg)
        finally:
            for k, v in restore.items():
                if v is not None:
                    conf.set(k, v)
                else:
                    conf.unset(k)

    def _run_sized(self, files: DataFrame, cfg: EngineConfig) -> DataFrame:
        # Size shuffle partitions to the INPUT, not just the core count:
        # ~16MB of on-disk input per shuffle partition, clamped to [1 wave,
        # 4 waves] of the cores. Measured both failure modes: the 400k-file
        # corpus (270MB) at local[8] wants 2 waves (+21% from load balance
        # on the band window / pair stages), while a 50k corpus at
        # local[32] wants exactly one (task overhead dominates sub-MB
        # partitions). On a real cluster this is the same rule of thumb as
        # sizing shuffle partitions to ~100-200MB of shuffle data — scaled
        # down because these stages carry Python-UDF and window-sort cost
        # per row, not just bytes.
        try:
            from urllib.parse import urlparse

            in_bytes = sum(
                os.path.getsize(urlparse(f).path) for f in files.inputFiles()
            )
        except (OSError, ValueError):
            in_bytes = 0
        cores = self.spark.sparkContext.defaultParallelism
        if in_bytes:
            # WHOLE waves only: a partition count just above a multiple of
            # cores (e.g. 17 on 16 cores) schedules a full wave plus one
            # straggler wave — worst possible balance
            waves = max(1, min(4, round(in_bytes / (16 << 20) / cores)))
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(waves * cores))
            # when the input is big enough to warrant >1 wave, AQE's
            # parallelism-first coalescing would merge the exchanges right
            # back to one wave (its target is defaultParallelism) — turn it
            # off for exactly the runs that overpartition on purpose
            self.spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled",
                str(waves == 1).lower())
        # Defensive repartition in front of the signature UDF, only when
        # the input's partitions do not fill whole waves of the cores
        # (fewer than cores, or between one and two waves), and then to one
        # task per core: each Python task pays ~0.13 s before its UDF body
        # starts (partitioning.py), so a second wave of small signature
        # tasks cost more than it balanced. The session splits file scans
        # at 8MB with a 1MB open cost (session.py), so a small file input
        # already scans into one split per core and this shuffle — a
        # measured flat ~4s I/O floor moving the full content bytes on big
        # inputs — stays a last resort for non-file inputs.
        parted = ensure_parallelism(files)
        ident_full = with_identity(parted, cfg.id_cols, cfg.content_col)
        if parted is not files:
            # ident_full feeds TWO consumers (the metadata projection below
            # and the signature semi-join) — without a cut the scan AND the
            # defensive repartition exchange of the full content run twice
            # (guide §2.4; measured: two concurrent ~0.9s scan+shuffle jobs
            # on the 50k corpus, r6 event-log profile). Gated on the
            # repartition path, which only fires for inputs with fewer
            # than two waves of partitions — a real deployment scans
            # thousands of splits, never repartitions, and never caches
            # content; there the double scan is the intended trade (re-read
            # cheap columnar input rather than cache/shuffle content).
            ident_full = self._cut(ident_full)
        # passthrough metadata beyond the key columns (lang for code tables;
        # generic record tables may not have it)
        extra_cols = [c for c in ("lang",) if c in files.columns]
        # metadata table (NO content column): reused by the final assignment
        # joins — column pruning keeps this scan/shuffle tiny
        ident = self._stage("files_hashed", lambda: ident_full.select(
            "file_id", "content_sha", "content_len", *cfg.id_cols, *extra_cols))

        # Signatures for ALL rows, then keep one per sha group: identical
        # content ⇒ identical signature. The dedup is a semi-join against
        # the rep-id table rather than agg(first(sig)): first() on an array
        # column compiles to SortAggregate — a full sort of every 512B
        # signature row — while the rep-id agg is a cheap hash agg on
        # (sha, id) and the semi-join build side is just ids (AQE
        # broadcasts it when small). This replaces the reference's
        # drop_duplicates contract (deduplicator.py:183) and avoids
        # shuffling content or signature bytes entirely.
        # ONE rep table for both consumers (semi-join filter here, exact-group
        # mapping in the final assignment) — round 2 computed this identical
        # groupBy twice, and the duplicate job was a measurable fixed cost on
        # small corpora (VERDICT r2 "What's wrong #3")
        rep_ids = self._stage("rep_ids", lambda: ident.groupBy("content_sha")
                              .agg(F.min("file_id").alias("file_id")))
        # semi-join BEFORE the UDF: a broadcast semi-join is narrow, so dup
        # rows drop out without shuffling content, and the signature UDF
        # only runs on representatives
        reps_full = ident_full.join(rep_ids.select("file_id"), "file_id", "semi")
        # Checkpointed runs write the signature table BUCKETED by file_id
        # (VERDICT r3 #4): the two scoring joins — the pipeline's biggest
        # exchange even at 32-bit slots — then read co-located buckets and
        # shuffle only the (small) candidate side; the signature rows are
        # never exchanged again. In prod the same call targets an Iceberg
        # bucket transform; a fresh-session resume reads the same parquet
        # plain (in-memory catalog), which is correct, just re-shuffled.
        sig_kw = {}
        if self.io is not None and cfg.checkpoint_dir:
            sig_kw = {
                "bucket_cols": ["file_id"],
                "n_buckets": int(
                    self.spark.conf.get("spark.sql.shuffle.partitions")),
            }
        sigs = self._stage(
            "signatures", lambda: with_signatures(reps_full, cfg), **sig_kw
        )

        def bands_fn() -> DataFrame:
            b = band_keys(sigs, cfg)
            if self.rules_selected:
                # learned-rule band keys (salted into their own key space so
                # a rule fingerprint can never alias a MinHash band)
                from deduplipy_spark.operators.blocking import rule_blocker_from_selected

                blocker = rule_blocker_from_selected(self.rules_selected)
                fp = blocker.fingerprint(reps_full, id_col="file_id")
                b = b.unionByName(
                    fp.select(
                        "id",
                        F.xxhash64("fingerprint", F.lit("rule")).alias("band_key"),
                    )
                )
            return b

        bands = self._stage("bands", bands_fn)
        # pure MinHash bands are (id, band_key)-distinct by construction
        # (the band index is hashed into the key), so the pre-window
        # dropDuplicates exchange is skipped; unioned rule fingerprints CAN
        # repeat a key per id, so the learned-rule path keeps the dedup.
        # cut=self._cut: the capped path's ranked-band window feeds two
        # branches (core combos + star edges), so the band table is
        # exchanged+sorted once, not twice (see candidate_pairs)
        cands = self._stage(
            "candidates", lambda: candidate_pairs(
                bands, cfg, assume_distinct=self.rules_selected is None,
                cut=self._cut)
        )
        scored = self._stage(
            "scored_pairs",
            lambda: score_pairs(cands, sigs, cfg),
        )
        # checkpointed runs already know the edge count (stage manifest):
        # skip the CC size-gate count job instead of re-counting a table
        # whose row count was recorded when it was written
        scored_count = None
        if self.io is not None:
            m = self.io.manifest("scored_pairs")
            if m and m.get("complete"):
                scored_count = m.get("row_count")
        clusters = self.cluster(scored, n_edges=scored_count)

        # INVARIANT (ADVICE r5 #3): everything above this point is
        # materialized inside THIS method (the CC size-gate count or the
        # checkpoint writes execute the persist cascade), so the per-input
        # conf overrides (shuffle sizing / AQE coalesce) are still active
        # for every expensive exchange. The stages BELOW — the assignment
        # joins and the HAC grouped-map — run lazily after run() restores
        # the session confs: they are broadcast joins and an
        # explicit-numPartitions repartition, both conf-independent. If you
        # add a stage after `components`, either materialize it here or
        # keep it conf-independent the same way.
        # Map near-dup cluster ids (defined on representative ids) onto every
        # member of each exact-dup sha group, then backfill singletons.
        rep_clusters = clusters.select(
            F.col("id").alias("rep_id"), F.col("cluster_id").alias("nd_cluster")
        )
        # rep_ids IS the sha->rep map (checkpointed above) — recomputing the
        # groupBy here was a duplicate shuffle inside the final-assignment job
        rep_of_sha = rep_ids.select(
            "content_sha", F.col("file_id").alias("rep_id"))
        assignment = (
            ident.join(rep_of_sha, "content_sha")
            .join(rep_clusters, "rep_id", "left")
            .withColumn("cluster_id", F.coalesce("nd_cluster", "rep_id"))
            .select("file_id", *cfg.id_cols, *extra_cols, "content_sha",
                    "cluster_id")
        )
        return self._stage("clusters", lambda: assignment)

    def cluster(self, scored: DataFrame,
                n_edges: int | None = None) -> DataFrame:
        """components → clusters_nd: the CC→HAC tail of every predict path.

        `scored` = (id_1, id_2, score), already cut (a stage cut or a
        checkpoint) since both layers consume it. Returns
        (id, cluster_id, component, capped) per node of every component.
        ``n_edges``: known row count of `scored` (e.g. a checkpoint
        manifest's) — skips the CC size-gate count.
        """
        cfg = self.cfg
        # cc_stats: the driver-CC path already knows the max component size
        # (one bincount); threading it through lets cluster_components skip
        # its big-component isEmpty probe — one driver job + two planning
        # gaps per run (guide §7.3; measured ~0.3s on the 50k corpus).
        # Checkpoint resumes and the distributed CC path leave it unset and
        # keep the probe. hac_slots is the range of the driver path's _slot
        # column, the HAC task count; both also leave it unset and
        # cluster_components hash-places the components instead.
        cc_stats: dict = {}
        comps = self._stage(
            "components",
            lambda: connected_components(scored, edge_count=n_edges,
                                         stats_out=cc_stats,
                                         max_hac_size=cfg.max_hac_size),
        )
        return self._stage(
            "clusters_nd", lambda: cluster_components(
                scored, comps, cfg,
                max_component_size=cc_stats.get("max_component_size"),
                n_edges=cc_stats.get("n_edges", n_edges),
                n_slots=cc_stats.get("hac_slots"))
        )
