"""The traced run's instruments.  Everything here observes the program from
outside: it wraps the public functions of each layer, listens to Spark's
query-execution events and reads Spark's status store.  Nothing in the
program is edited; an untraced run installs none of it.

Spans live in memory (name, start, end, parent, run id) and are written
out once, at the end of the run."""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

_COUNTER = None  # the process-wide CacheCounter, once installed


class CacheCounter:
    """Hit/miss counts for the generation caches in functions/cachegen.py.

    `lookup` and `obj_lookup` return None on a miss.  Operator modules bind
    those names at import time (`from ...cachegen import lookup`), so the
    wrappers must be in place before the program's modules are imported:
    call install_cache_counter() first thing in a traced run."""

    def __init__(self) -> None:
        from marketstream_etl_spark.functions import cachegen

        self.cachegen = cachegen
        self.tracer: Tracer | None = None  # set while a traced window is open
        self.hits = 0
        self.misses = 0
        for name in ("lookup", "obj_lookup"):
            setattr(cachegen, name, self._counting(getattr(cachegen, name), name))

    def _counting(self, fn, name: str):
        def wrapper(*args, **kwargs):
            if self.tracer is None:
                return fn(*args, **kwargs)
            with self.tracer.span(f"functions.cachegen.{name}") as rec:
                out = fn(*args, **kwargs)
                if rec is not None:
                    rec["hit"] = out is not None
            if out is None:
                self.misses += 1
            else:
                self.hits += 1
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def registry(self) -> set[tuple]:
        """Every live generation, as (family, key) pairs, frame and object
        caches both."""
        keys = {("frame", op, k) for op, gens in self.cachegen._GENERATIONS.items() for k in gens}
        keys |= {("obj", op, k) for op, gens in self.cachegen._OBJ_GENERATIONS.items() for k in gens}
        return keys


def install_cache_counter() -> CacheCounter:
    global _COUNTER
    if _COUNTER is None:
        _COUNTER = CacheCounter()
    return _COUNTER


class _PhaseListener:
    """A py4j implementation of Spark's QueryExecutionListener: sums the
    Catalyst phase times of every query execution that succeeds."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        if not self.tracer.active:
            return
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                summary = opt.get()
                self.tracer.catalyst_ms[phase] += summary.durationMs()
                self.tracer.add_span(f"session.{phase}", summary.startTimeMs() / 1e3,
                                     summary.endTimeMs() / 1e3, action=func_name)
        self.tracer.executions += 1

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


STAGE_SUMS = {
    # status-store StageData field -> per-layer metric (unit conversion)
    "executorRunTime": ("session.executor_run_s", 1e-3),
    "executorCpuTime": ("session.executor_cpu_s", 1e-9),
    "jvmGcTime": ("session.gc_s", 1e-3),
    "inputBytes": ("session.input_bytes", 1),
    "shuffleWriteBytes": ("session.shuffle_write_bytes", 1),
    "shuffleReadBytes": ("session.shuffle_read_bytes", 1),
    "memoryBytesSpilled": ("session.spill_bytes", 1),
    "diskBytesSpilled": ("session.spill_bytes", 1),
    "outputBytes": ("session.output_bytes", 1),
}


class Tracer:
    """Spans and per-layer counts of one traced run.  Wrappers record only
    while `active`; start() and stop() bound the window whose session and
    cache metrics metrics() reports."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.active = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.counter = install_cache_counter()
        self.generations_built = 0
        self.evictions = 0
        self.catalyst_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self.executions = 0
        self.build_s = 0.0
        self.wall_s = 0.0
        self._listener = None
        self._stage_floor = 0
        self._job_floor = 0
        self._t_start = 0.0
        self.t0 = time.perf_counter()
        self.t0_wall = time.time()

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.perf_counter() - self.t0, "end": None,
               "parent": stack[-1] if stack else None, "run": self.run_id, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def add_span(self, name: str, start_wall: float, end_wall: float, **attrs) -> None:
        """A span timed elsewhere (Spark's clock), as seconds since the epoch;
        its parent is not known."""
        rec = {"name": name, "start": start_wall - self.t0_wall, "end": end_wall - self.t0_wall,
               "parent": None, "run": self.run_id, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)

    @contextmanager
    def op(self, name: str, **attrs):
        """A span that also diffs the generation-cache registry around it."""
        before = self.counter.registry() if self.active else None
        with self.span(name, **attrs) as rec:
            yield rec
        if before is not None:
            after = self.counter.registry()
            self.generations_built += len(after - before)
            self.evictions += len(before - after)

    def wrap(self, owner, attr: str, span_name: str, build: bool = False) -> None:
        """Replace owner.attr with a wrapper that records a span per call.
        build=True marks a plan builder (see builder())."""
        fn = getattr(owner, attr)
        wrapper = self.builder(fn, span_name) if build else self._spanned(fn, span_name)
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, fn))

    def _spanned(self, fn, span_name: str):
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(span_name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def builder(self, fn, span_name: str):
        """Wrap a plan builder (a registered query, or a function returning a
        DataFrame): its time adds to plans.build_s.  A DataFrame is analysed
        as it is built, so that analysis is inside plans.build_s; the
        listener's session.analysis_s covers only the executed command."""
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            t = time.perf_counter()
            with self.span(span_name):
                out = fn(*args, **kwargs)
            self.build_s += time.perf_counter() - t
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def reset(self, spark) -> None:
        """Follow a restarted session and zero the counts; spans are kept."""
        self.spark = spark
        self.build_s = 0.0
        self.generations_built = self.evictions = 0
        self.counter.hits = self.counter.misses = 0

    # -- session window ----------------------------------------------------
    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _mapper(self):
        jvm = self.spark._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        mapper.registerModule(scala)
        return mapper

    def _stages(self) -> list[dict]:
        sc = self.spark.sparkContext
        empty = sc._gateway.new_array(self.spark._jvm.double, 0)
        lst = self._store().stageList(None, False, False, empty, None)
        return json.loads(self._mapper().writeValueAsString(lst))

    def _jobs(self) -> list[dict]:
        return json.loads(self._mapper().writeValueAsString(self._store().jobsList(None)))

    def start(self) -> None:
        """Open the traced window: spans, cache counts and Catalyst phases
        are recorded from here; stages and jobs are those created after."""
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self._stage_floor = 1 + max((s["stageId"] for s in self._stages()), default=-1)
        self._job_floor = 1 + max((j["jobId"] for j in self._jobs()), default=-1)
        if self._listener is None:
            ensure_callback_server_started(self.spark.sparkContext._gateway)
            self._listener = _PhaseListener(self)
            self.spark._jsparkSession.listenerManager().register(self._listener)
        self.counter.tracer = self
        self.active = True
        self._t_start = time.perf_counter()

    def stop(self) -> None:
        self.wall_s += time.perf_counter() - self._t_start
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.active = False
        self.counter.tracer = None

    def close(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    def metrics(self) -> dict[str, float]:
        """Per-layer metrics for the traced window (plans, session,
        functions.cachegen)."""
        out = {
            "plans.build_s": self.build_s,
            "session.analysis_s": self.catalyst_ms["analysis"] / 1e3,
            "session.optimization_s": self.catalyst_ms["optimization"] / 1e3,
            "session.planning_s": self.catalyst_ms["planning"] / 1e3,
            "session.query_executions": float(self.executions),
        }
        stages = [s for s in self._stages() if s["stageId"] >= self._stage_floor]
        jobs = [j for j in self._jobs() if j["jobId"] >= self._job_floor]
        out["session.jobs"] = float(len(jobs))
        out["session.stages"] = float(len({s["stageId"] for s in stages}))
        out["session.tasks"] = float(sum(s["numCompleteTasks"] for s in stages))
        for field, (name, scale) in STAGE_SUMS.items():
            out[name] = out.get(name, 0.0) + sum(s.get(field) or 0 for s in stages) * scale
        cores = self.spark.sparkContext.defaultParallelism
        out["session.slot_busy_share"] = (
            out["session.executor_run_s"] / (self.wall_s * cores) if self.wall_s else 0.0)
        out["session.cached_bytes"] = float(sum(
            r.memSize() + r.diskSize()
            for r in self.spark.sparkContext._jsc.sc().getRDDStorageInfo()))
        lookups = self.counter.hits + self.counter.misses
        out["functions.cachegen.generations_built"] = float(self.generations_built)
        out["functions.cachegen.evictions"] = float(self.evictions)
        out["functions.cachegen.hits"] = float(self.counter.hits)
        out["functions.cachegen.hit_ratio"] = self.counter.hits / lookups if lookups else 0.0
        return out
