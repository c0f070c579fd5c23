"""Spans and counters recorded from outside the package.

Every timed call runs under its own Spark job group, so the jobs it fired
can be looked up afterwards in Spark's status store. With tracing on,
the layer functions named in ``LAYER_FUNCS`` and ``DataFrame.localCheckpoint``
are wrapped at the module attributes that callers read, each call becomes a
span (name, start, end, parent) with its jobs, and a
``StreamingQueryListener`` counts replays and micro-batches. Spans are kept
in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# (module, function) -> layer. Each is wrapped where it is defined and
# wherever a cdw_spark module bound the same object at import time.
LAYER_FUNCS = {
    ("cdw_spark.operators.stats", "two_level_cumsum"): "stats",
    ("cdw_spark.operators.stats", "bucket_by_value"): "stats",
    ("cdw_spark.operators.stats", "banded_exact_median"): "stats",
    ("cdw_spark.operators.artifacts", "serve_at_rest"): "artifacts",
    ("cdw_spark.operators.artifacts", "serve_summary_at_rest"): "artifacts",
}

STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "executorCpuTime",
    "inputBytes",
    "outputBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Job groups always; spans, wrappers and the streaming listener only
    when ``enabled``. Create it on the main thread; ``close`` undoes the
    wrapping."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        # Job-group names must not repeat across tracers of one process.
        self._tag = f"pb{time.monotonic_ns()}"
        self._local = threading.local()
        self._main_stack: list[Span] = self._stack()
        self._undo: list = []
        self._stage_cache: dict[int, dict] = {}
        self.stream_runs: list[str] = []
        self.stream_batches: list[float] = []
        if enabled:
            self._install()

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> Span | None:
        # A span opened on a streaming callback thread belongs to the call
        # the main thread is blocked in.
        stack = self._stack() or self._main_stack
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, group: bool = True, **attrs):
        """Time one call. ``group`` gives it its own Spark job group (only
        honoured on the main thread: streaming callbacks run on threads whose
        job properties belong to the stream)."""
        on_main = threading.current_thread() is threading.main_thread()
        parent = self._parent()
        stack = self._stack()
        s = Span(next(self._ids), name, layer, parent.id if parent else None, 0.0, attrs=attrs)
        prev_group = None
        if group and on_main:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            s.group = f"{self._tag}.{s.id}"
            self.sc.setJobGroup(s.group, name)
        if self.enabled:
            self.spans.append(s)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if s.group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    # -- wrapping ----------------------------------------------------------

    def _patch(self, module_name: str, attr: str, wrapper_factory) -> None:
        module = sys.modules.get(module_name) or __import__(module_name, fromlist=[attr])
        original = getattr(module, attr)
        wrapped = wrapper_factory(original)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("cdw_spark") and getattr(mod, attr, None) is original:
                setattr(mod, attr, wrapped)
                self._undo.append((mod, attr, original))

    def _install(self) -> None:
        for (module_name, attr), layer in LAYER_FUNCS.items():
            if layer == "artifacts":
                self._patch(module_name, attr, self._wrap_artifact)
            else:
                self._patch(module_name, attr, functools.partial(self._wrap_call, layer))
        self._patch("cdw_spark.plans.layout", "write_table", self._wrap_write)
        df_cls = type(self.spark.range(1))
        original = df_cls.localCheckpoint
        tracer = self

        @functools.wraps(original)
        def local_checkpoint(df, eager=True, storageLevel=None):
            with tracer.span("cuts.localCheckpoint", "cuts", group=False, eager=bool(eager)):
                return original(df, eager, storageLevel)

        df_cls.localCheckpoint = local_checkpoint
        self._undo.append((df_cls, "localCheckpoint", original))

        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.stream_runs.append(str(event.runId))

            def onQueryProgress(self, event):
                tracer.stream_batches.append(event.progress.batchDuration / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def _wrap_call(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(f"{layer}.{fn.__name__}", layer):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_artifact(self, fn):
        """An artifact serve is a build when its ``build`` callback runs and
        a hit otherwise (the summary serve calls the plain serve with the
        same callback, so both spans see the build)."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(spark, family, fixture_path, version, spec_text, build, *rest, **kw):
            with tracer.span(f"artifacts.{fn.__name__}", "artifacts", family=family, built=False) as s:

                def counted_build():
                    s.attrs["built"] = True
                    return build()

                return fn(spark, family, fixture_path, version, spec_text, counted_build, *rest, **kw)

        return wrapper

    def _wrap_write(self, fn):
        """``plans.layout.write_table``: one span per table write, with the
        files and bytes it added under the table's path."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(df, name, layout=None, mode="append", path=None):
            before = _files(path)
            with tracer.span(f"layout.write:{name}", "layout", table=name) as s:
                fn(df, name, layout, mode, path)
            after = _files(path)
            kept = {f: n for f, n in after.items() if before.get(f) != n}
            s.attrs["files"] = sum(1 for f in kept if f.endswith(".parquet"))
            s.attrs["bytes"] = sum(kept.values())

        return wrapper

    def close(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()
        if self.enabled:
            self.spark.streams.removeListener(self._listener)

    # -- job and stage metrics --------------------------------------------

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store and the streaming listener have seen all finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30000)

    def resolve_jobs(self, spans: list[Span]) -> None:
        tracker = self.sc.statusTracker()
        for s in spans:
            if s.group is not None and not s.jobs:
                s.jobs = sorted(tracker.getJobIdsForGroup(s.group))

    def jobs_for_groups(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))

    def stages(self, job_ids: list[int]) -> list[dict]:
        """Stage metrics of the given jobs (each stage once; skipped stages
        have no attempt and are left out)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen: set[int] = set()
        out = []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                if sid not in self._stage_cache:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # no attempt: the stage was skipped
                        continue
                    if str(st.status()) == "SKIPPED":
                        continue
                    self._stage_cache[sid] = {f: getattr(st, f)() for f in STAGE_FIELDS}
                out.append(self._stage_cache[sid])
        return out

    def write(self, path: str, extra: dict) -> None:
        rec = {
            "spans": [
                {
                    "id": s.id,
                    "name": s.name,
                    "layer": s.layer,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "jobs": s.jobs,
                    "attrs": s.attrs,
                }
                for s in self.spans
            ],
            **extra,
        }
        with open(path, "w") as f:
            json.dump(rec, f, indent=1, default=str)


def _files(path: str | None) -> dict[str, int]:
    out: dict[str, int] = {}
    if path:
        for base, _, files in os.walk(path):
            for f in files:
                p = os.path.join(base, f)
                out[p] = os.path.getsize(p)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent in child:
            child[s.parent] += s.dur
    return {s.id: s.dur - child[s.id] for s in spans}


def stage_totals(stages: list[dict]) -> dict[str, float]:
    tot = {f: 0 for f in STAGE_FIELDS}
    for st in stages:
        for f in STAGE_FIELDS:
            tot[f] += st[f]
    tot["stages"] = len(stages)
    return tot
