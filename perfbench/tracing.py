"""Per-layer tracing of the real pipeline, applied from outside the program.

``Tracer.patch()`` replaces the layer functions that ``plans.pipeline`` and
``streaming.incremental`` import with wrappers. Each wrapper:

1. forces its DataFrame inputs (persist + count) inside the CALLER's span,
   so upstream work that is not a layer of its own (the rep-id groupBy and
   semi-join, a batch's input scan) is charged to the caller's time and
   not to this layer; their stages carry the ``trace.inputs`` description;
2. sets ``sc.setJobDescription("<layer>#<pass>")``;
3. calls the real function, persists its output and forces it with a count;
4. records a span (name, start, end, parent).

Forcing every boundary breaks the pipeline's single persist cascade, so a
traced pass is slower than an untraced one; the benchmark reports the
difference as ``trace.overhead_s``.

Stage counters (task time, JVM CPU time, shuffle write, input and output
bytes) come from the live status store, grouped by job description.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# function name as imported by the traced modules -> layer name
LAYERS = {
    "with_identity": "ids.with_identity",
    "with_signatures": "minhash.with_signatures",
    "band_keys": "minhash.band_keys",
    "candidate_pairs": "pairs.candidate_pairs",
    "score_pairs": "scoring.score_pairs",
    "connected_components": "components.connected_components",
    "cluster_components": "agglomerate.cluster_components",
}
MODULES = ("deduplipy_spark.plans.pipeline",
           "deduplipy_spark.streaming.incremental")
PIPELINE = "plans.pipeline"
PROCESS_BATCH = "streaming.incremental.process_batch"
INPUTS = "trace.inputs"

_LEVEL = StorageLevel.MEMORY_AND_DISK_DESER


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._originals: list[tuple[object, str, object]] = []
        self.begin_pass("0")

    # -- spans ---------------------------------------------------------
    def begin_pass(self, tag: str) -> None:
        self.tag = tag
        self.spans: list[list] = []      # [name, start, end, parent index]
        self._stack: list[int] = []
        self.rows: dict[str, int] = {}
        self.outputs: dict[str, DataFrame] = {}
        self.cc_stats: dict = {}
        self.index_rows = 0              # band index size after a stream pass

    def _describe(self) -> None:
        name = self.spans[self._stack[-1]][0] if self._stack else None
        self.sc.setJobDescription(f"{name}#{self.tag}" if name else None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.monotonic(), None, parent])
        self._stack.append(len(self.spans) - 1)
        self._describe()
        try:
            yield
        finally:
            self.spans[self._stack.pop()][2] = time.monotonic()
            self._describe()

    def self_times(self) -> dict[str, float]:
        """Layer -> summed self time (span minus the spans it caused)."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for (name, t0, t1, _), c in zip(self.spans, child):
            out[name] = out.get(name, 0.0) + (t1 - t0 - c)
        return out

    # -- patching ------------------------------------------------------
    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kw):
            self.sc.setJobDescription(f"{INPUTS}#{self.tag}")
            for a in (*args, *kw.values()):
                if isinstance(a, DataFrame):
                    a.persist(_LEVEL).count()
            with self.span(layer):
                out = fn(*args, **kw).persist(_LEVEL)
                n = out.count()
            self.rows[layer] = self.rows.get(layer, 0) + n
            self.outputs[layer] = out
            if isinstance(kw.get("stats_out"), dict):
                self.cc_stats = dict(kw["stats_out"])
            return out
        return traced

    def patch(self) -> None:
        for modname in MODULES:
            mod = importlib.import_module(modname)
            for attr, layer in LAYERS.items():
                if hasattr(mod, attr):
                    orig = getattr(mod, attr)
                    self._originals.append((mod, attr, orig))
                    setattr(mod, attr, self._wrap(layer, orig))

    def unpatch(self) -> None:
        for mod, attr, orig in reversed(self._originals):
            setattr(mod, attr, orig)
        self._originals = []

    # -- stage counters ------------------------------------------------
    def stage_totals(self) -> dict[str, dict[str, float]]:
        """Layer -> summed stage counters of this pass's jobs."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        gw = self.sc._gateway
        stages = jsc.statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList())
        suffix = f"#{self.tag}"
        out: dict[str, dict[str, float]] = {}
        for i in range(stages.length()):
            s = stages.apply(i)
            desc = s.description()
            if desc.isEmpty() or not desc.get().endswith(suffix):
                continue
            t = out.setdefault(desc.get()[: -len(suffix)], {
                "task_s": 0.0, "cpu_s": 0.0, "shuffle_write_mb": 0.0,
                "input_mb": 0.0, "output_mb": 0.0})
            t["task_s"] += s.executorRunTime() / 1e3
            t["cpu_s"] += s.executorCpuTime() / 1e9
            t["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            t["input_mb"] += s.inputBytes() / 1e6
            t["output_mb"] += s.outputBytes() / 1e6
        return out


def jvm_gc_s(spark) -> float:
    """Summed collection time of the driver JVM's garbage collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size())) / 1e3
