"""Layer tracing from outside the engine.

:func:`install` wraps the public functions of each layer module in
place (and every ``from ... import`` alias of them inside the engine
package), so a span opens at each layer boundary without touching the
engine's files.  Spans stay in memory as ``(name, start, end, parent,
op)`` rows and are written out once, at the end of a run.  While
:attr:`Tracer.enabled` is off every wrapper is a plain pass-through,
which lets one process alternate traced and untraced rounds and report
the tracing overhead.

A client-side counter on ``py4j.clientserver`` counts every round trip
from the driver to the JVM.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from dataclasses import dataclass

#: (module, attribute path, span name) of every wrapped public function
LAYER_FUNCTIONS = [
    ("sources.ingest", "ingest_workbook", "sources.ingest"),
    ("pipeline", "process_upload", "pipeline.process_upload"),
    ("pipeline", "write_excel_report", "pipeline.report"),
    ("warehouse", "Warehouse.read", "warehouse"),
    ("warehouse", "Warehouse.append", "warehouse"),
    ("warehouse", "Warehouse.overwrite", "warehouse"),
    ("warehouse", "Warehouse.next_id", "warehouse"),
    ("operators.span_dedup_incremental", "incremental_span_fold", "span_dedup.fold"),
    ("operators.similarity", "semantic_index_append", "similarity.index_append"),
    ("streaming.curation", "curation_fold", "curation.fold"),
] + [
    ("fsio", name, "fsio")
    for name in (
        "hadoop_fs", "exists", "mkdirs", "delete", "rename", "child_entries",
        "child_names", "mtime_ms", "file_size", "any_file_with_suffix",
        "write_text", "read_text", "write_json", "read_json",
        "read_small_parquet_rows",
    )
]

PACKAGE = "py_data_pipeline_app_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    op: int
    py4j: int = 0  # py4j round trips inside the span


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op = -1
        self.py4j_calls = 0

    # -- spans --------------------------------------------------------------

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op, self.py4j_calls))
        self.stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        s = self.spans[idx]
        s.end = time.perf_counter()
        s.py4j = self.py4j_calls - s.py4j
        self.stack.pop()

    def abort(self) -> None:
        """Close the spans an op left open when it raised."""
        while self.stack:
            self.end(self.stack[-1])

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return traced

    # -- analysis -----------------------------------------------------------

    def self_times(self) -> list[float]:
        """Span duration minus the part its child spans cover (children
        of one single-threaded driver never overlap)."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent >= 0:
                own[s.parent] -= s.end - s.start
        return own

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "py4j": s.py4j,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self):
        if self.tracer.enabled:
            self.idx = self.tracer.begin(self.name)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer.end(self.idx)
        return False


def _resolve(module, path: str):
    owner = module
    parts = path.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


def install(tracer: Tracer) -> None:
    """Wrap every function in :data:`LAYER_FUNCTIONS` and count py4j
    round trips.  Call once, after the engine modules are imported."""
    import importlib

    import py4j.clientserver as cs

    originals: dict[int, object] = {}
    for mod_name, path, span_name in LAYER_FUNCTIONS:
        module = importlib.import_module(f"{PACKAGE}.{mod_name}")
        owner, attr = _resolve(module, path)
        fn = getattr(owner, attr)
        wrapped = tracer.wrap(fn, span_name)
        setattr(owner, attr, wrapped)
        originals[id(fn)] = wrapped
    # rebind ``from module import fn`` aliases held by other engine modules
    for name, module in list(sys.modules.items()):
        if not name.startswith(PACKAGE) or module is None:
            continue
        for attr, value in list(vars(module).items()):
            wrapped = originals.get(id(value))
            if wrapped is not None:
                setattr(module, attr, wrapped)

    send = cs.ClientServerConnection.send_command

    def counted(self, command):
        tracer.py4j_calls += 1
        return send(self, command)

    cs.ClientServerConnection.send_command = counted


class JobCounter:
    """Spark jobs, stages and tasks run under one job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def count(self, group: str) -> tuple[int, int, int]:
        jobs = stages = tasks = 0
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return jobs, stages, tasks
