"""Per-layer tracing from outside the program.

``Tracer`` times calls into the program's public functions by wrapping them
wherever the program's modules look them up: ``sources.readers.load_table``
(layer ``sources.read``), every public function of ``operators.bpe`` (layer
``operators.iter``; the iterative workload runs only BPE training),
``pipeline.rebuild`` (layer ``pipeline.build``), ``sources.writers.write_table``
(layer ``sources.write``) and ``sources.dump.dump_database`` (layer
``sources.dump``). Only the outermost call of a layer is counted, so a driver
that calls another driver is one call. Jobs are counted by the delta of the
DAG scheduler's next job id, which no UI retention limit truncates. Catalyst
phase times come from the ``QueryExecution`` tracker, and execution counters
from the status store's stage data, read once the listener bus has delivered
every event (the traced session raises stage retention so every stage of a
query is still there when it is read).
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections import Counter

from py4j.protocol import Py4JJavaError

#: Session settings for traced runs only: keep every job and stage in the
#: status store so per-query stage data is complete.
TRACE_CONF = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}

_PACKAGE = "synth_transform_spark"


class Tracer:
    """JVM-side counters of one session, and the wrappers that time calls."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        mf = sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()
        self.active = False
        self.acc: Counter = Counter()
        self._depth: Counter = Counter()
        self._patched: list[tuple[object, str, object]] = []

    # -- counters read from the JVM --------------------------------------
    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    def next_stage_id(self) -> int:
        return self._dag.nextStageId()

    def jvm_times(self) -> tuple[float, float]:
        """(cumulative GC seconds, cumulative JIT compile seconds)."""
        gc_ms = sum(b.getCollectionTime() for b in self._gc_beans)
        return gc_ms / 1e3, self._jit.getTotalCompilationTime() / 1e3

    # -- wrapping the program's public functions -------------------------
    def install(self) -> None:
        from synth_transform_spark.operators import bpe
        from synth_transform_spark.pipeline import rebuild
        from synth_transform_spark.sources import dump, readers, writers

        layers = {
            readers.load_table: "sources.read",
            rebuild: "pipeline.build",
            writers.write_table: "sources.write",
            dump.dump_database: "sources.dump",
        }
        for name, fn in vars(bpe).items():
            if inspect.isfunction(fn) and not name.startswith("_") and fn.__module__ == bpe.__name__:
                layers[fn] = "operators.iter"
        wrappers = {id(fn): self.wrap(fn, layer) for fn, layer in layers.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(_PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrappers:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrappers[id(val)])

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def wrap(self, fn, layer: str):
        """``fn``, timed as one call of ``layer`` while tracing is active."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active or self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            j0, t0 = self.next_job_id(), time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.acc[f"{layer}_s"] += time.perf_counter() - t0
                self.acc[f"{layer}_jobs"] += self.next_job_id() - j0
                self.acc[f"{layer}_calls"] += 1
                self._depth[layer] -= 1

        return wrapper

    # -- per-query readings ------------------------------------------------
    @staticmethod
    def catalyst_phases(df) -> dict[str, float]:
        """Force planning of ``df`` and return its phase times in seconds
        (``analysis``, ``optimization``, ``planning``)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        out = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2().durationMs() / 1e3
        return out

    def stage_totals(self, first: int, end: int) -> Counter:
        """Sum the stage data of stage ids ``[first, end)`` that ran, once
        the listener bus has delivered every event to the status store."""
        self._bus.waitUntilEmpty(60_000)
        out: Counter = Counter()
        for sid in range(first, end):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # id allocated but the stage was never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out
