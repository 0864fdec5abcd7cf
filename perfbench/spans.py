"""Spans around calls into the engine's layers, and Spark counters from the
event log, attributed to those spans.

Spans are recorded by the benchmark: ``Tracer.instrument`` swaps the public
layer functions for timing wrappers (the engine itself is unchanged) and
``Tracer.span`` wraps calls the benchmark makes directly. Stages and jobs in
the event log are attributed to spans by submission time, because job groups
are thread-local and the graph stage submits its jobs from worker threads.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import threading
import time
from dataclasses import dataclass, field


def now_ms() -> float:
    """Wall clock in epoch milliseconds, the time base of Spark's event log."""
    return time.time() * 1000.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; a span's parent is the innermost open span of its
    thread, or of the thread that created the tracer when its own has none."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(name, now_ms(), parent=parent, attrs=attrs)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = now_ms()
            stack.pop()

    def _patch(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        sig = inspect.signature(orig)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
            if after is not None:
                after(sp, sig.bind(*args, **kwargs).arguments, out)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def instrument(self) -> None:
        """Wrap the layer entry points the workloads reach."""
        from semantic_search_system_spark import catalog
        from semantic_search_system_spark.operators import similarity
        from semantic_search_system_spark.plans import pipeline, search

        for fn, stage in (
            ("build_enriched", "enrich"),
            ("build_topic_map", "topic_map"),
            ("build_entity_map", "entity_map"),
            ("build_triples", "triples"),
            ("build_graph", "graph"),
        ):
            self._patch(pipeline, fn, f"pipeline.{stage}")
        for meth in ("commit_partitions", "commit_partitions_local"):
            self._patch(catalog.Catalog, meth, "catalog.commit", after=_record_files)
        self._patch(catalog.Catalog, "compact_stream_epochs", "catalog.compact")
        self._patch(catalog, "compact_small_dir", "catalog.compact")
        self._patch(search, "ensure_doc_ivf", "similarity.ensure_doc_ivf")
        self._patch(similarity, "build_ivf_index", "similarity.ivf_build")
        self._patch(similarity, "append_ivf_assignments", "similarity.ivf_append")

    def uninstrument(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def _record_files(sp: Span, args: dict, committed: dict) -> None:
    """Files and bytes a catalog commit published (after compact-on-commit)."""
    cat, table = args["self"], args["table"]
    files = nbytes = 0
    for bucket in committed:
        d = os.path.join(cat.path(table), f"bucket={bucket}")
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, f))
    sp.attrs.update(files=files, bytes=nbytes)


class EventLog:
    """The session's event-log listener, attached only while a traced
    operation runs, so set-up and untraced operations leave nothing in the
    log."""

    def __init__(self, spark, log_dir: str) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._logger = jsc.eventLogger().get()
        self._dir = log_dir
        self._attached = True
        self.detach()

    def attach(self) -> None:
        if not self._attached:
            self._bus.waitUntilEmpty()
            self._bus.addToEventLogQueue(self._logger)
            self._attached = True

    def detach(self) -> None:
        if self._attached:
            self._bus.waitUntilEmpty()
            self._bus.removeListener(self._logger)
            self._attached = False

    def events(self):
        """Parsed events; read after the session stops, when the log is flushed."""
        for path in sorted(glob.glob(os.path.join(self._dir, "eventlog_v2_*", "events_*"))):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


@dataclass
class Stage:
    submitted: float
    acc: dict


def stages_and_jobs(events) -> tuple[list[Stage], list[float]]:
    """Completed stages (submission time, accumulables by name) and job
    submission times."""
    stages: list[Stage] = []
    jobs: list[float] = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(float(e["Submission Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc = {}
            for a in info.get("Accumulables", []):
                try:
                    acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a["Value"])
                except (KeyError, TypeError, ValueError):
                    continue
            stages.append(Stage(float(info.get("Submission Time", 0)), acc))
    return stages, jobs


def covering(spans: list[Span], t: float) -> Span | None:
    """The span among ``spans`` (one family, non-overlapping) that contains t."""
    for sp in spans:
        if sp.start <= t <= sp.end:
            return sp
    return None


def self_ms(tracer: Tracer, idx: int) -> float:
    """Span duration minus the part of it covered by its child spans."""
    sp = tracer.spans[idx]
    kids = sorted(
        (max(c.start, sp.start), min(c.end, sp.end))
        for c in tracer.spans
        if c.parent == idx
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (sp.end - sp.start) - covered
