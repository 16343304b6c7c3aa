"""Spans around the calls into each engine layer, for the traced run.

A :class:`Tracer` keeps a stack of open spans per thread. Each span records
its wall interval, the Python CPU time of its thread, the py4j round trips
made while it was the innermost span (counted by wrapping the gateway
client's ``send_command``), and a Spark job group (``setJobGroup``) so that
the jobs, stages and task metrics parsed from the event log after the run
can be tied back to it. Layer wrappers (:func:`install_layer_wrappers`) open
spans around the engine's public functions; they are installed in every
``srm_etl_spark.*`` namespace that bound the function by name, because many
modules do ``from ..x import f``. Spans stay in memory and are written as
JSON lines by :meth:`Tracer.dump`.

The engine also runs Python on py4j callback threads: a ``foreachBatch``
micro-batch runs while the driver's main thread waits in
``awaitTermination``. Work on such a thread belongs to the innermost span
open on the main thread: its round trips are counted there, and the
wrappers it enters open child spans of it.

Nothing here launches a Spark job: the tracer's own JVM calls (job groups,
storage info, streaming event conversion) are excluded from the py4j counts.
"""

from __future__ import annotations

import datetime
import functools
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import procfs

# layer -> (module, public functions the layer is entered through)
LAYER_FUNCTIONS: dict[str, list[tuple[str, tuple[str, ...]]]] = {
    "sources": [("srm_etl_spark.sources.tables", ("load_table",))],
    "pipelines": [
        ("srm_etl_spark.pipelines.entities", ("run_entities",)),
        ("srm_etl_spark.pipelines.meser", ("run_meser",)),
        ("srm_etl_spark.pipelines.derive", ("run_derive",)),
        ("srm_etl_spark.pipelines.etl_composed", ("run_full_etl",)),
        ("srm_etl_spark.pipelines.manual_fixes", ("run_manual_fixes",)),
        ("srm_etl_spark.pipelines.mde", ("run_curation_import",)),
    ],
    "session_cache": [
        (
            "srm_etl_spark.operators.session_cache",
            ("keep_persisted", "keep_persisted_pooled", "keep_checkpointed_pooled", "release_all"),
        )
    ],
    "streaming": [("srm_etl_spark.streaming.events", ())],  # () = every public function
    "sinks": [("srm_etl_spark.sinks.files", ("write_parquet_stage",))],
}

PIN_FUNCTIONS = ("keep_persisted", "keep_persisted_pooled", "keep_checkpointed_pooled")

# the local properties setJobGroup sets on the calling JVM thread
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Span:
    __slots__ = (
        "sid", "parent", "trace", "layer", "name", "group", "on_main",
        "t0", "t1", "wall0", "wall1", "cpu0", "cpu1",
        "py4j_calls", "py4j_s", "calls_s", "calls_cpu_s", "attrs",
    )

    def __init__(self, sid, parent, trace, layer, name, group, on_main):
        self.sid, self.parent, self.trace = sid, parent, trace
        self.layer, self.name, self.group, self.on_main = layer, name, group, on_main
        self.t0 = time.perf_counter()
        self.wall0 = time.time()
        self.cpu0 = time.thread_time()
        self.t1 = self.wall1 = self.cpu1 = None
        self.py4j_calls = 0
        # round-trip time, net of the round trips other threads made during
        # a main-thread call (those are counted to their own spans)
        self.py4j_s = 0.0
        # wall and CPU time of this span's thread inside JVM calls (the
        # tracer's own included) while the span was innermost on it
        self.calls_s = 0.0
        self.calls_cpu_s = 0.0
        self.attrs: dict = {}

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "parent": self.parent, "trace": self.trace,
            "layer": self.layer, "name": self.name, "group": self.group,
            "main_thread": self.on_main, "start": self.wall0, "dur_s": self.t1 - self.t0,
            "cpu_s": self.cpu1 - self.cpu0, "py4j_calls": self.py4j_calls,
            "py4j_s": self.py4j_s, "calls_s": self.calls_s, **self.attrs,
        }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[Span]] = {self._main: []}
        self._local = threading.local()
        self._trace = ""
        self._nested_s = 0.0  # round-trip time of calls made off the main thread
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            internal = getattr(self._local, "internal", 0)
            on_main = threading.get_ident() == self._main
            top = self._top()
            if top is None or (internal and not on_main):
                return send(*args, **kwargs)
            t0, c0, n0 = time.perf_counter(), time.thread_time(), self._nested_s
            try:
                return send(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                if top.on_main == on_main:
                    top.calls_s += dt
                    top.calls_cpu_s += time.thread_time() - c0
                if not internal:
                    top.py4j_calls += 1
                    if on_main:
                        top.py4j_s += dt - (self._nested_s - n0)
                    else:
                        top.py4j_s += dt
                        self._nested_s += dt

        client.send_command = counted

    def _top(self) -> Span | None:
        """The innermost open span of this thread; on a thread with none
        open, that of the main thread."""
        own = self._stacks.get(threading.get_ident())
        if own:
            return own[-1]
        main = self._stacks[self._main]
        return main[-1] if main else None

    @contextmanager
    def internal(self):
        """JVM calls the tracer makes for itself: not counted to any span."""
        self._local.internal = getattr(self._local, "internal", 0) + 1
        try:
            yield
        finally:
            self._local.internal -= 1

    @contextmanager
    def span(self, layer: str, name: str, trace: str | None = None):
        tid = threading.get_ident()
        on_main = tid == self._main
        if trace is not None:
            self._trace = trace
        parent = self._top()
        sid = next(self._ids)
        s = Span(sid, parent.sid if parent else None, self._trace, layer, name,
                 f"perfbench-{sid}", on_main)
        self.spans.append(s)
        stack = self._stacks.setdefault(tid, [])
        stack.append(s)
        with self.internal():
            # a callback thread runs on the JVM thread that called back (a
            # streaming query's, with that query's job group): put its
            # properties back exactly on the way out
            saved = None if on_main else [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
            self.sc.setJobGroup(s.group, s.group)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.wall1 = time.time()
            s.cpu1 = time.thread_time()
            stack.pop()
            with self.internal():
                if saved is not None:
                    for k, v in zip(_GROUP_PROPS, saved):
                        self.sc.setLocalProperty(k, v)
                elif stack:
                    self.sc.setJobGroup(stack[-1].group, stack[-1].group)
                else:
                    self.sc._jsc.clearJobGroup()

    def storage_bytes(self) -> int:
        """Memory + disk bytes of every RDD block the session holds now."""
        with self.internal():
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                if s.t1 is not None:
                    fh.write(json.dumps(s.as_dict()) + "\n")


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a written parquet directory."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def _pinned_frames(mod) -> set[int]:
    ids = {id(df) for df in mod._SLOTS.values()}
    ids |= {id(df) for pool in mod._POOLS.values() for df in pool.values()}
    ids |= {id(ck) for pool in mod._CKPT_POOLS.values() for (_o, ck) in pool.values()}
    return ids


def _wrap(tracer: Tracer, layer: str, fn, mod):
    name = fn.__name__
    is_pin = layer == "session_cache" and name in PIN_FUNCTIONS
    is_sink = layer == "sinks"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer, name) as s:
            before = _pinned_frames(mod) if is_pin else None
            out = fn(*args, **kwargs)
            if is_pin:
                s.attrs["pin_built"] = id(out) not in before
            if is_sink:
                path = args[1] if len(args) > 1 else kwargs.get("path")
                s.attrs["bytes_written"], s.attrs["files_written"] = _dir_stats(path)
            return out

    return wrapper


def install_layer_wrappers(tracer: Tracer) -> int:
    """Wrap every layer function in every loaded ``srm_etl_spark`` module
    that holds it; returns the number of bindings replaced."""
    import srm_etl_spark  # noqa: PLC0415

    for info in pkgutil.walk_packages(srm_etl_spark.__path__, "srm_etl_spark."):
        importlib.import_module(info.name)
    replaced = 0
    for layer, entries in LAYER_FUNCTIONS.items():
        for modname, names in entries:
            mod = sys.modules[modname]
            if not names:
                names = tuple(
                    n for n, v in vars(mod).items()
                    if inspect.isfunction(v) and v.__module__ == modname and not n.startswith("_")
                )
            for n in names:
                fn = getattr(mod, n)
                w = _wrap(tracer, layer, fn, mod)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("srm_etl_spark"):
                        for attr, val in list(vars(m).items()):
                            if val is fn:
                                setattr(m, attr, w)
                                replaced += 1
    return replaced


class StreamingCounts:
    """A Python ``StreamingQueryListener`` that keeps every progress event's
    trigger start (wall clock), input rows and trigger duration."""

    def __init__(self, spark, tracer: Tracer):
        from pyspark import SparkContext  # noqa: PLC0415
        from pyspark.java_gateway import ensure_callback_server_started  # noqa: PLC0415
        from pyspark.sql.streaming import StreamingQueryListener  # noqa: PLC0415
        from pyspark.sql.streaming.listener import JStreamingQueryListener  # noqa: PLC0415

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "start": datetime.datetime.fromisoformat(p.timestamp).timestamp(),
                    "input_rows": int(p.numInputRows),
                    "trigger_s": float(p.durationMs.get("triggerExecution", 0)) / 1000.0,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        # pyspark converts each JVM event with py4j calls on a callback
        # thread before the listener sees it: keep those out of the spans
        def untraced(fn):
            def call(jevent):
                with tracer.internal():
                    return fn(jevent)

            return call

        bridge = JStreamingQueryListener(self._listener)
        for n in ("onQueryStarted", "onQueryProgress", "onQueryIdle", "onQueryTerminated"):
            setattr(bridge, n, untraced(getattr(bridge, n)))
        with tracer.internal():
            ensure_callback_server_started(SparkContext._gateway)
            jvm = SparkContext._jvm
            self._listener._jlistenerobj = (
                jvm.org.apache.spark.sql.streaming.PythonStreamingQueryListenerWrapper(bridge)
            )
            spark.streams.addListener(self._listener)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, summed task metrics and the first job's
    submission time (epoch seconds) from the Spark JSON event log under
    ``log_dir``. Groups the engine sets itself (a streaming query runs its
    batches under its run id) are kept too; the caller ties them to the
    span that was open when their first job was submitted."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    # Spark 4 writes a directory per application: events_<n>_<app> files
    # beside an appstatus marker and checksum files
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir)
        for n in names if n.startswith("events_")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        a = groups[g]
                        a["jobs"] += 1
                        t = ev.get("Submission Time", 0) / 1e3
                        a["first_submit"] = min(a.get("first_submit") or t, t)
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                        groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    a = groups[g]
                    a["tasks"] += 1
                    a["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return groups


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by this process's Python workers: every
    descendant that is not the JVM, with reaped workers' time carried in
    their parent's cumulative counters."""
    table = procfs.processes()
    return procfs.TICK_S * sum(
        sum(int(x) for x in table[pid][1][procfs.CPU_TIMES])
        for pid in procfs.descendants(table, os.getpid())[1:]
        if table[pid][0] != "java"
    )
