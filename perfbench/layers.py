"""Probes that observe the engine's layers from outside.

- ``Tracer`` wraps the package's public layer functions
  (``sources.tables.load_table`` ...) and records spans in memory.
- ``StatusStore`` reads Spark's job and stage records (with the UI off)
  as JSON through the driver JVM.
- ``StreamProgress`` is a ``StreamingQueryListener`` keeping progress
  events.
- ``ProcSampler`` reads ``/proc`` for CPU time and resident memory of
  the driver, the JVM and the Python workers.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SAMPLE_S = 0.25  # ProcSampler's sampling interval
_RESCAN = 8  # ProcSampler samples per rescan of the process list

# (module, function, span name) wrapped in traced passes
WRAPPED = (
    ("java_mapreduce_framework_spark.sources.tables", "load_table", "sources.load_table"),
    ("java_mapreduce_framework_spark.sources.tables", "spread_scan", "sources.spread_scan"),
    ("java_mapreduce_framework_spark.sources.staging", "stage_once", "sources.staging"),
    ("java_mapreduce_framework_spark.sources.staging", "ensure_staged_table", "sources.staging"),
    ("java_mapreduce_framework_spark.plans.sql", "register_views", "plans.sql.register_views"),
)


class Tracer:
    """In-memory span recorder. Spans are dicts with ``id``, ``name``,
    ``start``, ``end`` (epoch seconds), ``parent`` and ``qid``."""

    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.qid: str | None = None

    def begin(self, name: str, **attrs) -> dict:
        sp = {
            "id": next(self._ids),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "qid": self.qid,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        return sp

    def end(self, sp: dict) -> None:
        sp["end"] = time.time()
        self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        self.spans.append(
            {"id": next(self._ids), "name": name, "start": start, "end": end,
             "parent": parent, "qid": self.qid, **attrs}
        )

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            attrs = {}
            if name == "sources.load_table":
                attrs["table"] = kwargs.get("name", args[2] if len(args) > 2 else None)
            sp = tracer.begin(name, **attrs)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sp)

        return traced

    def install(self) -> None:
        """Swap each wrapped function for its tracing wrapper in its own
        module and in every loaded module of the package that imported
        it by name."""
        for mod_name, attr, span in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapper = self.wrap(orig, span)
            for name, mod in list(sys.modules.items()):
                if not name.startswith("java_mapreduce_framework_spark") or mod is None:
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapper)


class StatusStore:
    """Job and stage records of the live SparkContext, as dicts."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, groups: set[str]) -> list[dict]:
        return [j for j in self._json(self._store.jobsList(None)) if j.get("jobGroup") in groups]

    def stages(self, stage_ids: set[int]) -> list[dict]:
        rows = self._json(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )
        return [s for s in rows if s["stageId"] in stage_ids]

    def gc_seconds(self) -> float:
        return sum(e["totalGCTime"] for e in self._json(self._store.executorList(True))) / 1000.0


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps one record per progress
    event (defined here so importing this module needs no pyspark)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            super().__init__()
            self.started: list[tuple[float, str]] = []
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            with self._lock:
                self.started.append((time.time(), str(event.id)))

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            rec = {
                "query": str(p.id),
                "batch": p.batchId,
                "start": start,
                "end": start + d.get("triggerExecution", 0) / 1000.0,
                "input_rows": p.numInputRows,
                "batch_s": d.get("triggerExecution", 0) / 1000.0,
                "commit_s": (d.get("commitOffsets", 0) + d.get("walCommit", 0)
                             + d.get("commitBatch", 0)) / 1000.0,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
            with self._lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def drain(self) -> tuple[list, list]:
            with self._lock:
                out = (self.started, self.progress)
                self.started, self.progress = [], []
            return out

    return StreamProgress()


# ----------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def cpu_seconds(pid: int, children: bool = False) -> float:
    """utime+stime of ``pid`` (plus its reaped children's if asked)."""
    f = _stat(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])  # utime, stime
    if children:
        ticks += int(f[13]) + int(f[14])  # cutime, cstime
    return ticks / _TICK


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat(int(entry))
            if f is not None:
                parent[int(entry)] = int(f[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def pyworker_cpu(jvm_pid: int) -> tuple[float, int]:
    """CPU seconds of the JVM's Python descendants (the PySpark daemon
    with its reaped workers, and the live workers) and their count."""
    pids = descendants(jvm_pid)
    total = 0.0
    n = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"pyspark" in cmd:
            n += 1
            total += cpu_seconds(pid, children=True)
    return total, n


class ProcSampler(threading.Thread):
    """Samples the summed RSS of the driver, the JVM and the JVM's
    descendants every ``_SAMPLE_S`` seconds while ``sampling`` is set
    and keeps the peak. The process list is rescanned every ``_RESCAN``
    samples: a full ``/proc`` walk per sample would steal driver time."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak = 0
        self.sampling = threading.Event()
        self._halt = threading.Event()

    def run(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._halt.is_set():
            if self.sampling.is_set():
                if n % _RESCAN == 0:
                    pids = [os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)]
                n += 1
                self.peak = max(self.peak, sum(rss_bytes(p) for p in pids))
            self._halt.wait(_SAMPLE_S)

    def stop(self) -> None:
        self._halt.set()
        self.join()
