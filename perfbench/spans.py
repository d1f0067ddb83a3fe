"""Span tracing for the benchmark's traced run.

A span wraps one call into a layer: it tags every Spark job started
inside it with its own job group, and on exit reads the jobs and
stages of that group from Spark's in-process status store
(``sc._jsc.sc().statusStore()``, which answers with
``spark.ui.enabled=false``). Spans nest; a job belongs to the
innermost span that was open when it started, and a span's self time
is its duration minus the time its child spans cover.

Layer functions are wrapped from the outside with :func:`instrument`,
which replaces a module attribute with a span-opening wrapper in every
loaded engine module that holds the same function object (a plan that
imported the name at module top is patched too). Nothing is wrapped
unless the traced run asks for it.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from py4j.protocol import Py4JJavaError

ENGINE_PACKAGE = "rdf_mapreduce_joins_spark"

# Stage counters summed over a span's executed (non-skipped) stages,
# as (metric name, StageData field, scale to the reported unit).
STAGE_COUNTERS: tuple[tuple[str, str, float], ...] = (
    ("tasks", "numTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
    ("killed_tasks", "numKilledTasks", 1),
    ("run_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("scan_bytes", "inputBytes", 1),
    ("scan_records", "inputRecords", 1),
    ("output_bytes", "outputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_read_records", "shuffleReadRecords", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_write_records", "shuffleWriteRecords", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("peak_exec_memory_bytes", "peakExecutionMemory", 1),
)

PEAK = "peak_exec_memory_bytes"

# Counters that are a pure function of the plan and the data, so two
# traced runs of the same code must repeat them exactly.
DETERMINISTIC = (
    "jobs",
    "stages",
    "tasks",
    "scan_bytes",
    "scan_records",
    "shuffle_read_bytes",
    "shuffle_read_records",
    "shuffle_write_bytes",
    "shuffle_write_records",
)


@dataclass
class Span:
    layer: str
    name: str
    group: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    children: list["Span"] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    job_s: float = 0.0  # summed wall of the span's own jobs
    evicted: int = 0  # jobs or stages the tracker listed but the store lost

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    def walk(self) -> Iterator["Span"]:
        yield self
        for c in self.children:
            yield from c.walk()

    def total(self, key: str) -> float:
        """Counter summed over this span and all its descendants."""
        return sum(s.counters.get(key, 0) for s in self.walk())

    def to_json(self) -> dict[str, Any]:
        out: dict[str, Any] = {
            "layer": self.layer,
            "name": self.name,
            "dur_s": self.dur,
            "self_s": self.self_s,
            "job_s": self.job_s,
            "counters": self.counters,
        }
        if self.evicted:
            out["evicted"] = self.evicted
        if self.children:
            out["children"] = [c.to_json() for c in self.children]
        return out


class Tracer:
    """Opens spans, sets job groups, harvests the status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_status = jvm.java.util.ArrayList()
        # stageData() needs a real (empty) double[] for quantiles;
        # passing None raises a NullPointerException in the JVM.
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._stack: list[Span] = []
        self._seq = 0
        self.enabled = True  # read by the runner: traced passes only
        self.roots: list[Span] = []  # top-level spans, reset per pass
        self.harvest_s = 0.0  # time spent reading the status store

    @contextmanager
    def span(self, layer: str, name: str) -> Iterator[Span]:
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, name, f"perfbench-{self._seq}", time.perf_counter(), parent=parent)
        (parent.children if parent is not None else self.roots).append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, f"{layer}:{name}", False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"{parent.layer}:{parent.name}", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._harvest(sp)

    def _harvest(self, sp: Span) -> None:
        """Read the span's own jobs and their stages. Runs right after
        the span, because the store keeps only the newest 1000 jobs
        and stages; a job the tracker lists but the store no longer
        holds is counted in ``evicted`` rather than dropped. Each
        store object crosses to Python as one JSON string, which costs
        far fewer gateway calls than reading its fields one by one."""
        t0 = time.perf_counter()
        ids = self.sc.statusTracker().getJobIdsForGroup(sp.group)
        c = {"jobs": 0, "stages": 0, **{k: 0 for k, _, _ in STAGE_COUNTERS}}
        for jid in ids:
            try:
                job = self._json(self._store.job(jid))
            except Py4JJavaError:  # evicted from the store
                sp.evicted += 1
                continue
            c["jobs"] += 1
            if job.get("submissionTime") and job.get("completionTime"):
                sp.job_s += (job["completionTime"] - job["submissionTime"]) / 1e3
            for sid in job["stageIds"]:
                try:
                    attempts = self._json(self._store.stageData(
                        sid, False, self._no_status, False, self._no_quantiles
                    ))
                except Py4JJavaError:  # evicted from the store
                    sp.evicted += 1
                    continue
                for sd in attempts:
                    if sd["status"] == "SKIPPED":
                        continue
                    c["stages"] += 1
                    for key, field_name, scale in STAGE_COUNTERS:
                        v = sd[field_name] * scale
                        # A stage's peak memory is the sum of its tasks'
                        # peaks; a span reports its largest stage.
                        c[key] = max(c[key], v) if key == PEAK else c[key] + v
        sp.counters = c
        self.harvest_s += time.perf_counter() - t0

    def _json(self, obj) -> Any:
        return json.loads(self._mapper.writeValueAsString(obj))


def _wrap(tracer: Tracer, fn: Callable, layer: str, name: str) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer, name):
            return fn(*args, **kwargs)

    return wrapper


def instrument(tracer: Tracer, targets: dict[str, str]) -> Callable[[], None]:
    """Wrap each ``"module:function"`` in ``targets`` (mapped to its
    layer name) so every call opens a span. Returns an undo function."""
    undo: list[tuple[Any, str, Any]] = []
    for target, layer in targets.items():
        mod_name, fn_name = target.split(":")
        mod = sys.modules[mod_name]
        orig = getattr(mod, fn_name)

        wrapper = _wrap(tracer, orig, layer, fn_name)
        for m_name, m in list(sys.modules.items()):
            if not m_name.startswith(ENGINE_PACKAGE) or m is None:
                continue
            for attr, val in list(vars(m).items()):
                if val is orig:
                    undo.append((m, attr, orig))
                    setattr(m, attr, wrapper)

    def restore() -> None:
        for m, attr, orig in undo:
            setattr(m, attr, orig)

    return restore
