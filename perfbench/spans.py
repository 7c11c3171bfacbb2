"""Outside-in tracing for the traced run, plus the RSS sampler.

Spans are recorded around calls into each layer's public functions by
rebinding those functions from the benchmark's side (the program itself is
not modified). Each span sets a Spark job group for its duration, so the
jobs it triggers — and the stage counters Spark's status store keeps for
them — are attributed to it. Spark is lazy: a traced call that hands a
DataFrame across a layer boundary has it forced (noop sink) inside its
span, so the layer that built the plan is charged for running it. The
caller later runs the same lineage again; that re-execution is part of the
tracing overhead, which is why end-to-end metrics come from untraced runs
only.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import threading
import time
from dataclasses import dataclass, field

PKG = "ra2_datalake_linaresjoan_spark"

#: layer → package modules whose public functions are traced. The
#: ``queries`` layer is the registry call, which the benchmark spans itself;
#: ``session`` is timed by the set-up measurement. ``functions`` and
#: ``operators`` only run inside these layers and are charged to them.
LAYERS: dict[str, tuple[str, ...]] = {
    "sources": ("sources",),
    "llmdata": ("llmdata",),
    "plans": ("plans", "cli"),
    "streaming": ("streaming",),
}

#: stage-level counters summed per span from the status store
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "tasks_failed",
    "tasks_killed",
    "stage_retries",
    "input_bytes",
    "input_records",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "executor_run_s",
    "executor_cpu_s",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int
    parent: int | None
    module: str
    start: float
    end: float = 0.0
    #: time spent forcing the lazy output across a module boundary
    force_s: float = 0.0
    #: time inside a registry call before any action runs
    build_s: float = 0.0
    #: job groups besides the span's own (a streaming query's run id)
    groups: list[str] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def layer_of(module: str) -> str | None:
    rel = module.removeprefix(PKG + ".")
    for layer, prefixes in LAYERS.items():
        if any(rel == p or rel.startswith(p + ".") for p in prefixes):
            return layer
    return None


class Tracer:
    """In-memory span recorder with Spark job-group attribution."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[Span] = []
        self._originals: list[tuple[object, str, object]] = []

    # -- span lifecycle -------------------------------------------------
    def begin(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        module = name.rsplit(".", 1)[0]
        span = Span(len(self.spans), name, layer, self.op, parent, module, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._set_group(self._stack[-1])
        else:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _set_group(self, span: Span) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{span.id}", span.name, interruptOnCancel=False)

    def call(self, name: str, layer: str, fn, *args, force: bool = False, **kwargs):
        span = self.begin(name, layer)
        try:
            out = fn(*args, **kwargs)
            if force:
                t0 = time.perf_counter()
                _force(out)
                span.force_s = time.perf_counter() - t0
            return out
        finally:
            self.end(span)

    # -- wrapping the program's public functions -----------------------
    def install(self) -> None:
        """Rebind every public function of the traced layers, in every
        package module that refers to it, to a span-recording wrapper."""
        mods = [importlib.import_module(PKG)]
        for info in pkgutil.walk_packages(mods[0].__path__, PKG + "."):
            mods.append(importlib.import_module(info.name))
        wrapped: dict[int, object] = {}
        for mod in mods:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                wrapped[id(fn)] = self._wrap(fn, layer)
        for mod in mods:
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    self._originals.append((mod, attr, val))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._originals):
            setattr(mod, attr, val)
        self._originals.clear()

    def _wrap(self, fn, layer: str):
        name = f"{fn.__module__.removeprefix(PKG + '.')}.{fn.__name__}"
        module = name.rsplit(".", 1)[0]

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # force lazy output where it crosses a module boundary, so the
            # module that built the plan is charged for running it
            caller = self._stack[-1].module if self._stack else None
            return self.call(name, layer, fn, *args, force=caller != module, **kwargs)

        return traced

    # -- status-store attribution ---------------------------------------
    def collect_counters(self, spans: list[Span]) -> None:
        """Fill each span's counters from the jobs of its job groups. Jobs
        are visited in submission order, so a stage that later jobs reuse
        is counted once, in the job that ran it."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        owner: dict[int, Span] = {}
        for span in spans:
            span.counters = dict.fromkeys(COUNTERS, 0.0)
            for group in [f"span-{span.id}", *span.groups]:
                for job_id in tracker.getJobIdsForGroup(group):
                    owner[job_id] = span
        seen: set[int] = set()
        for job_id in sorted(owner):
            c = owner[job_id].counters
            c["jobs"] += 1
            _add_job(store, job_id, c, seen)


def _add_job(store, job_id: int, c: dict[str, float], seen: set[int]) -> None:
    job = store.job(job_id)
    it = job.stageIds().iterator()
    while it.hasNext():
        stage_id = it.next()
        if stage_id in seen:
            continue
        seen.add(stage_id)
        attempts = store.stageData(stage_id, False, None, False, None).iterator()
        n = 0
        while attempts.hasNext():
            sd = attempts.next()
            if str(sd.status()) == "SKIPPED":
                continue
            n += 1
            c["stages"] += 1
            c["tasks"] += sd.numTasks()
            c["tasks_failed"] += sd.numFailedTasks()
            c["tasks_killed"] += sd.numKilledTasks()
            c["input_bytes"] += sd.inputBytes()
            c["input_records"] += sd.inputRecords()
            c["output_bytes"] += sd.outputBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["executor_run_s"] += sd.executorRunTime() / 1e3
            c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        c["stage_retries"] += max(n - 1, 0)


def _force(out) -> None:
    """Run every non-streaming DataFrame in ``out`` to a noop sink."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        if not out.isStreaming:
            out.write.format("noop").mode("overwrite").save()
    elif isinstance(out, dict):
        for v in out.values():
            _force(v)
    elif isinstance(out, (list, tuple)):
        for v in out:
            _force(v)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    return {s.id: s.dur - child[s.id] for s in spans}


#: seconds between RSS samples
RSS_INTERVAL_S = 0.2


class RssSampler:
    """Samples the summed RSS of a process and all its descendants (the
    driver JVM and the Python workers it forks) from /proc."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_pages(self.pid) * page)
            self._stop.wait(RSS_INTERVAL_S)


def _tree_pages(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total
