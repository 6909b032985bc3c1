"""Benchmark of the block->score->cluster engine on local[4].

Usage (from the repository root):

    python3 perfbench/run.py --workload hot_bands --seed 1 --seconds 15 --trace 0

Each run:

1. prepares its input from ``--seed`` with ``sources.datagen`` (cached under
   ``.perfbench_cache/``, never timed);
2. sets up: launches the JVM and a SparkSession, then runs one warm-up
   pass (``WARMUP_PASSES``) on the input. ``setup_s`` is start plus
   warm-up. The first pass of a JVM pays JIT compilation and Python worker
   start-up, about 2.5x a later pass; from the second pass on, passes are
   flat (see the JIT note in ``configure_env``);
3. runs timed passes for ``--seconds`` (at least ``MIN_PASSES``) and reports
   their median. A batch pass is ``DedupPipeline.run`` until the cluster
   assignment is collected; a stream pass feeds the input to
   ``IncrementalNearDup.process_batch`` as ``STREAM_BATCHES`` micro-batches
   (by ``row_idx``) with a fresh state directory. Releasing caches and state
   between passes is not timed;
4. checks every pass, the warm-up included, against the generator's
   ``truth_cluster``: a pass whose dup-pair recall is below 0.99, whose
   precision is below ``MIN_PRECISION``, or whose cluster assignment does
   not hold exactly one row per input file is failed. Recall counts against
   every same-truth pair of the input. Failed passes are kept and lower
   ``ok_frac``.

With ``--trace 1`` the timed passes alternate untraced and traced (see
tracing.py), at least ``MIN_TRACE_PASSES`` of them, and the run reports the
per-layer metrics instead.

Every pass prints a ``pass`` line with its timings and its host window
(steal seconds, load average), so a noisy window shows in the output. The
last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")

CORES = 4
WARMUP_PASSES = 1
MIN_PASSES = 3
MIN_TRACE_PASSES = 2       # one untraced, one traced
MIN_RECALL = 0.99          # the north rule's dup-pair recall
MIN_PRECISION = 0.9
STREAM_BATCHES = 3

# name -> kind and generator arguments (n_files, n_clusters, members)
WORKLOADS = {
    # clusters of 400 overflow band_cap=200: pair, scoring and HAC layers
    "hot_bands": {"kind": "batch", "full": (2400, 3, 400),
                  "tiny": (700, 1, 300)},
    # clusters of 5 streamed as micro-batches into a band index: signing
    # and the index join, with few candidate pairs
    "stream_ingest": {"kind": "stream", "full": (3000, 300, 5),
                      "tiny": (400, 40, 5)},
}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "files_per_s": "1/s", "cpu_s": "s",
    "peak_rss_mb": "MB", "dup_pair_recall": "ratio",
    "dup_pair_precision": "ratio", "ok_frac": "ratio", "late_batch_s": "s",
}
PER_LAYER = {
    "ids.with_identity.s": "s", "ids.with_identity.rows": "count",
    "minhash.with_signatures.s": "s", "minhash.with_signatures.rows": "count",
    "minhash.with_signatures.task_s": "s", "minhash.with_signatures.cpu_s": "s",
    "minhash.band_keys.s": "s", "minhash.band_keys.rows": "count",
    "pairs.candidate_pairs.s": "s", "pairs.candidate_pairs.rows": "count",
    "pairs.candidate_pairs.shuffle_mb": "MB", "pairs.true_pair_ratio": "ratio",
    "scoring.score_pairs.s": "s", "scoring.score_pairs.shuffle_mb": "MB",
    "scoring.kept_ratio": "ratio",
    "components.connected_components.s": "s",
    "components.connected_components.nodes": "count",
    "components.connected_components.max_component_size": "count",
    "components.connected_components.n_edges": "count",
    "agglomerate.cluster_components.s": "s",
    "agglomerate.cluster_components.task_s": "s",
    "plans.pipeline.other_s": "s",
    "streaming.incremental.process_batch.s": "s",
    "streaming.incremental.process_batch.index_rows": "count",
    "streaming.incremental.process_batch.index_scan_mb": "MB",
    "streaming.incremental.process_batch.write_mb": "MB",
    "jvm.gc_s": "s", "trace.overhead_s": "s",
}


def configure_env() -> None:
    """Keep Spark's scratch files inside the checkout and let the Python
    workers import the program."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = os.path.join(CACHE, "spark-local")
    # a 4g heap cap (the session default of 12g is most of a 16 GB host),
    # a fixed young generation, and heap growth only when the live data
    # needs it (GCTimeRatio=1 turns off growth to cut GC time). With the
    # adaptive defaults the collector grew the heap by 0.3 or 0.75 GB in
    # the first timed pass, at random, so the peak RSS of identical runs
    # fell into two levels a third apart. The heap is not pre-touched, so
    # RSS follows what the program uses.
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # C1 only: with the C2 compiler on, passes of this size kept getting
    # faster for minutes (C2 still compiling 1-2 s of CPU a pass at the
    # sixth pass), and the pass time two identical JVMs settled at differed
    # by up to a quarter. With C1 alone a pass is 20-40% slower than the
    # best C2 pass, but flat from the second pass on and alike across JVMs.
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmn768m",
        "-XX:GCTimeRatio=1", "-XX:TieredStopAtLevel=1")))
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData")))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    sys.path.insert(0, ROOT)


# -- correctness gate ---------------------------------------------------

def _pairs(sizes) -> int:
    return int(sum(n * (n - 1) // 2 for n in sizes))


class GateError(ValueError):
    """The program's output is not a valid answer for the input."""


def cluster_pair_scores(truth, pred, t_pairs: int) -> tuple[float, float]:
    """Dup-pair recall and precision of a clustering: two files form a pair
    when they share a cluster. ``truth`` and ``pred`` are aligned series;
    ``t_pairs`` is the number of same-truth pairs of the whole input."""
    import pandas as pd

    cells = pd.DataFrame({"t": truth.values, "p": pred.values}) \
        .value_counts().values
    tp = _pairs(cells)
    p_pairs = _pairs(pred.value_counts().values)
    return (tp / t_pairs if t_pairs else 1.0,
            tp / p_pairs if p_pairs else 1.0)


def matched_pair_scores(truth_by_id, t_pairs: int, a, b) -> tuple[float, float]:
    """Recall and precision of matched id pairs (a[i], b[i]) against the
    ``t_pairs`` same-truth pairs of the input."""
    import pandas as pd

    lo, hi = a.where(a < b, b), a.where(a >= b, b)
    p = pd.DataFrame({"lo": lo.values, "hi": hi.values})
    p = p[p.lo != p.hi].drop_duplicates()
    tp = int((truth_by_id.reindex(p.lo).values
              == truth_by_id.reindex(p.hi).values).sum())
    return (tp / t_pairs if t_pairs else 1.0,
            tp / len(p) if len(p) else 1.0)


def gate_ok(recall: float, precision: float) -> bool:
    return recall >= MIN_RECALL and precision >= MIN_PRECISION


# -- inputs -------------------------------------------------------------

class Inputs:
    """Generated files for one (workload, size, seed), plus their truth.

    Rows come from ``sources.datagen``: every row is a pure function of
    (seed, row index), so the driver-side ``gen_pandas`` writes the same
    table as the distributed ``gen_files`` without a Spark job. The files
    are split into ``2 * CORES`` contiguous chunks, as ``gen_files`` would
    partition them; a stream input gets one directory per micro-batch.
    """

    def __init__(self, name: str, size: str, seed: int) -> None:
        import pandas as pd

        from deduplipy_spark.sources.datagen import gen_pandas

        spec = WORKLOADS[name]
        n, n_clusters, members = spec[size]
        self.kind = spec["kind"]
        self.n_files = n
        layout = f"stream{STREAM_BATCHES}" if self.kind == "stream" else "batch"
        self.path = os.path.join(
            CACHE, "inputs", f"{layout}-{n}-{n_clusters}-{members}-s{seed}")
        if not os.path.isdir(self.path):
            pdf = gen_pandas(n, n_clusters, members=members, seed=seed)
            tmp = self.path + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            if self.kind == "stream":
                for b in range(STREAM_BATCHES):
                    self._write(pdf[pdf["row_idx"] % STREAM_BATCHES == b],
                                os.path.join(tmp, f"mb={b}"))
            else:
                self._write(pdf, tmp)
            os.replace(tmp, self.path)
        truth = pd.read_parquet(self.path, columns=["path", "truth_cluster"])
        self.truth_by_path = truth.set_index("path")["truth_cluster"]
        self.truth_pairs = _pairs(truth["truth_cluster"].value_counts().values)
        self._truth_by_id = None

    @staticmethod
    def _write(pdf, path: str) -> None:
        import numpy as np

        os.makedirs(path)
        cuts = np.linspace(0, len(pdf), 2 * CORES + 1).astype(int)
        for i in range(2 * CORES):
            pdf.iloc[cuts[i]:cuts[i + 1]].to_parquet(
                os.path.join(path, f"part-{i:05d}.parquet"), index=False)

    def truth_by_id(self, spark):
        """truth_cluster keyed by the program's file_id (a Spark hash)."""
        if self._truth_by_id is None:
            from deduplipy_spark.ids import file_id_col

            self._truth_by_id = spark.read.parquet(self.path).select(
                file_id_col().alias("file_id"), "truth_cluster") \
                .toPandas().set_index("file_id")["truth_cluster"]
        return self._truth_by_id


# -- passes -------------------------------------------------------------

class Runner:
    """Runs one kind of pass and measures it."""

    def __init__(self, spark, inputs: Inputs, jvm_pid: int, rss) -> None:
        from deduplipy_spark.config import EngineConfig

        self.spark = spark
        self.inputs = inputs
        self.cfg = EngineConfig()
        self.jvm_pid = jvm_pid
        self.rss = rss
        self.state_dir = os.path.join(CACHE, f"stream-state-{os.getpid()}")

    def one_pass(self, tracer=None) -> dict:
        """Run a pass; return its timings, host window and gate result."""
        from procstat import HostWindow, tree_cpu_s

        self.spark.catalog.clearCache()
        shutil.rmtree(self.state_dir, ignore_errors=True)
        body = self._batch if self.inputs.kind == "batch" else self._stream
        rec: dict = {"traced": tracer is not None}
        try:
            with HostWindow() as host:
                cpu0 = tree_cpu_s(self.jvm_pid)
                self.rss.reset()
                t0 = time.monotonic()
                check = body(rec, tracer)
                rec["wall_s"] = time.monotonic() - t0
                rec["cpu_s"] = tree_cpu_s(self.jvm_pid) - cpu0
                rec["peak_rss_mb"] = self.rss.peak()
            rec["steal_s"], rec["load_1m"] = host.steal_s, host.load_1m
            try:
                rec["recall"], rec["precision"] = check()
            except GateError as e:
                rec["recall"] = rec["precision"] = 0.0
                rec["gate"] = str(e)
        except Exception as e:              # a failed pass is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        rec["ok"] = "error" not in rec and gate_ok(rec["recall"], rec["precision"])
        shutil.rmtree(self.state_dir, ignore_errors=True)
        return rec

    def _batch(self, rec: dict, tracer):
        from deduplipy_spark.plans.pipeline import DedupPipeline
        from tracing import PIPELINE

        files = self.spark.read.parquet(self.inputs.path)
        pipe = DedupPipeline(self.spark, self.cfg)
        if tracer is None:
            pdf = pipe.run(files).select("path", "cluster_id").toPandas()
        else:
            with tracer.span(PIPELINE):
                pdf = pipe.run(files).select("path", "cluster_id").toPandas()
        pipe.close()

        def check():
            known = self.inputs.truth_by_path
            paths = pdf["path"]
            if (len(pdf) != len(known) or not paths.is_unique
                    or not paths.isin(known.index).all()):
                raise GateError(
                    f"{len(pdf)} assignment rows, {paths.nunique()} distinct "
                    f"paths; want one row per input path ({len(known)})")
            return cluster_pair_scores(known.reindex(paths), pdf["cluster_id"],
                                       self.inputs.truth_pairs)
        return check

    def _stream(self, rec: dict, tracer):
        from deduplipy_spark.streaming.incremental import IncrementalNearDup
        from tracing import PROCESS_BATCH

        inc = IncrementalNearDup(self.spark, self.cfg, self.state_dir)
        batches = [self.spark.read.parquet(os.path.join(self.inputs.path, f"mb={b}"))
                   for b in range(STREAM_BATCHES)]
        rec["units"] = []
        for b, df in enumerate(batches):
            t0 = time.monotonic()
            if tracer is None:
                inc.process_batch(df, b)
            else:
                with tracer.span(PROCESS_BATCH):
                    inc.process_batch(df, b)
            rec["units"].append(time.monotonic() - t0)

        def check():
            if tracer is not None:
                tracer.index_rows = self.spark.read.parquet(inc.bands_path).count()
            m = self.spark.read.parquet(inc.matches_path) \
                .select("new_id", "existing_id").toPandas()
            return matched_pair_scores(self.inputs.truth_by_id(self.spark),
                                       self.inputs.truth_pairs,
                                       m["new_id"], m["existing_id"])
        return check


# -- metrics ------------------------------------------------------------

def _median(xs) -> float:
    return float(statistics.median(xs))


def late_batch_s(kind: str, passes: list[dict]) -> float:
    """Median latency of the second half of the work units: the later
    micro-batches of each stream pass, or the later timed batch passes."""
    if kind == "stream":
        return _median([_median(p["units"][len(p["units"]) // 2:])
                        for p in passes])
    return _median([p["wall_s"] for p in passes[len(passes) // 2:]])


def end_to_end(inputs: Inputs, setup_s: float, timed: list[dict],
               all_passes: list[dict]) -> dict:
    ok = [p for p in timed if "error" not in p]
    if not ok:
        raise RuntimeError("no timed pass completed")
    wall = _median([p["wall_s"] for p in ok])
    failed = sum(not p["ok"] for p in all_passes)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "files_per_s": inputs.n_files / wall,
        "cpu_s": _median([p["cpu_s"] for p in ok]),
        "peak_rss_mb": _median([p["peak_rss_mb"] for p in ok]),
        "dup_pair_recall": min(p.get("recall", 0.0) for p in all_passes),
        "dup_pair_precision": min(p.get("precision", 0.0) for p in all_passes),
        "ok_frac": 1.0 - failed / len(all_passes),
        "late_batch_s": late_batch_s(inputs.kind, ok),
    }


def layer_record(spark, tracer, inputs: Inputs, cfg, gc_s: float,
                 wall: float) -> dict:
    """Per-layer numbers of one traced pass (read after the pass ended)."""
    from pyspark.sql import functions as F

    from tracing import PROCESS_BATCH

    st = tracer.stage_totals()
    self_s = tracer.self_times()
    rows = tracer.rows
    outs = tracer.outputs
    zero = {"task_s": 0.0, "cpu_s": 0.0, "shuffle_write_mb": 0.0,
            "input_mb": 0.0, "output_mb": 0.0}
    stage = lambda layer: st.get(layer, zero)      # noqa: E731
    rec = {f"{layer}.s": self_s.get(layer, 0.0) for layer in (
        "ids.with_identity", "minhash.with_signatures", "minhash.band_keys",
        "pairs.candidate_pairs", "scoring.score_pairs",
        "components.connected_components", "agglomerate.cluster_components",
        PROCESS_BATCH)}
    for layer in ("ids.with_identity", "minhash.with_signatures",
                  "minhash.band_keys", "pairs.candidate_pairs"):
        rec[f"{layer}.rows"] = rows.get(layer, 0)
    rec["minhash.with_signatures.task_s"] = stage("minhash.with_signatures")["task_s"]
    rec["minhash.with_signatures.cpu_s"] = stage("minhash.with_signatures")["cpu_s"]
    rec["pairs.candidate_pairs.shuffle_mb"] = \
        stage("pairs.candidate_pairs")["shuffle_write_mb"]
    rec["scoring.score_pairs.shuffle_mb"] = \
        stage("scoring.score_pairs")["shuffle_write_mb"]
    rec["agglomerate.cluster_components.task_s"] = \
        stage("agglomerate.cluster_components")["task_s"]
    rec["components.connected_components.nodes"] = \
        rows.get("components.connected_components", 0)
    rec["components.connected_components.max_component_size"] = \
        tracer.cc_stats.get("max_component_size", 0)
    rec["components.connected_components.n_edges"] = \
        tracer.cc_stats.get("n_edges", 0)
    rec["streaming.incremental.process_batch.index_rows"] = \
        tracer.index_rows
    rec["streaming.incremental.process_batch.index_scan_mb"] = \
        stage(PROCESS_BATCH)["input_mb"]
    rec["streaming.incremental.process_batch.write_mb"] = \
        stage(PROCESS_BATCH)["output_mb"]
    # ratios from the persisted layer outputs, outside the timed pass
    cands = outs.get("pairs.candidate_pairs")
    rec["pairs.true_pair_ratio"] = 0.0
    if cands is not None and inputs.kind == "batch":
        truth = spark.createDataFrame(
            inputs.truth_by_id(spark).reset_index().rename(
                columns={"file_id": "id", "truth_cluster": "t"}))
        both = (cands.join(truth.withColumnRenamed("id", "id_1")
                           .withColumnRenamed("t", "t1"), "id_1")
                .join(truth.withColumnRenamed("id", "id_2")
                      .withColumnRenamed("t", "t2"), "id_2"))
        n = rows["pairs.candidate_pairs"]
        rec["pairs.true_pair_ratio"] = (
            both.where(F.col("t1") == F.col("t2")).count() / n if n else 0.0)
    scored = outs.get("scoring.score_pairs")
    rec["scoring.kept_ratio"] = 0.0
    if scored is not None:
        n = scored.count()
        rec["scoring.kept_ratio"] = (scored.where(
            F.col("score") >= cfg.cluster_threshold).count() / n if n else 0.0)
    rec["plans.pipeline.other_s"] = wall - sum(self_s.values()) + self_s.get(
        "plans.pipeline", 0.0)
    rec["jvm.gc_s"] = gc_s
    return rec


# -- runs ---------------------------------------------------------------

def start_session():
    from deduplipy_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark("perfbench", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.monotonic() - t0


def stop_jvm(spark) -> None:
    """Stop the session, then end the py4j JVM (it exits when its stdin
    closes), wait for it, and let the next session launch a new one."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full", log=print) -> dict:
    from procstat import RssSampler

    t0 = time.monotonic()
    inputs = Inputs(workload, size, seed)
    prepare_s = time.monotonic() - t0
    spark, start_s = start_session()
    log("prepare " + json.dumps({"prepare_s": prepare_s, "start_s": start_s}))
    try:
        all_passes: list[dict] = []
        with RssSampler(jvm_pid(spark)) as rss:
            runner = Runner(spark, inputs, jvm_pid(spark), rss)
            for _ in range(WARMUP_PASSES):
                rec = runner.one_pass()
                rec["phase"] = "setup"
                all_passes.append(rec)
                log("pass " + json.dumps(rec))
            setup_s = start_s + sum(p.get("wall_s", 0.0) for p in all_passes)
            timed, layers = [], []
            tracer = None
            if trace:
                from tracing import Tracer, jvm_gc_s

                tracer = Tracer(spark)
            deadline = time.monotonic() + seconds
            k = 0
            min_passes = MIN_TRACE_PASSES if trace else MIN_PASSES
            while k < min_passes or time.monotonic() < deadline:
                traced = trace and k % 2 == 1
                if traced:
                    tracer.begin_pass(str(k))
                    tracer.patch()
                    gc0 = jvm_gc_s(spark)
                    try:
                        rec = runner.one_pass(tracer)
                    finally:
                        tracer.unpatch()
                    gc = jvm_gc_s(spark) - gc0
                    if "error" not in rec:
                        layers.append(layer_record(spark, tracer, inputs, runner.cfg,
                                                   gc, rec["wall_s"]))
                else:
                    rec = runner.one_pass()
                rec["phase"] = "timed"
                timed.append(rec)
                all_passes.append(rec)
                log("pass " + json.dumps(rec))
                k += 1
            spark.catalog.clearCache()
    finally:
        stop_jvm(spark)

    failed = sum(not p["ok"] for p in all_passes)
    if trace:
        if not layers:
            raise RuntimeError("no traced pass completed")
        metrics = {name: _median([r[name] for r in layers])
                   for name in PER_LAYER if name != "trace.overhead_s"}
        walls = lambda t: [p["wall_s"] for p in timed  # noqa: E731
                           if p["traced"] == t and "error" not in p]
        metrics["trace.overhead_s"] = _median(walls(True)) - _median(walls(False))
        units = PER_LAYER
    else:
        metrics = end_to_end(inputs, setup_s, timed, all_passes)
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": len(all_passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "deduplipy_spark")):
        print(f"no deduplipy_spark package under {ROOT}", file=sys.stderr)
        return 2
    configure_env()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 args.size)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
