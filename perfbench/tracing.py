"""Span recorder for the traced run.

Spans are kept in memory: name, start, end, parent span and op id. The
recorder wraps public functions of the program at run time, patching each
name where its caller looks it up (``read_source`` as bound in
``engine.copy``, ``load_table`` as bound in ``catalog``, methods on their
class). Nothing is patched unless :meth:`Recorder.install` is called, and
the untraced run never calls it.

Spans opened on a thread with no open span of its own (a streaming
``foreachBatch`` callback runs on a py4j callback thread) are parented to
the innermost open span of the thread that started the op.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from .stats import self_time


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    tags: dict = field(default_factory=dict)


def _dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files first written under ``path``: a
    hard-linked file carried over from an older version has more than one
    link and is not counted."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(root, name))
            if st.st_nlink == 1:
                files += 1
                size += st.st_size
    return files, size


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.lstat(os.path.join(root, name)).st_size
    return total


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: int | None = None
        self._op_stack: list[Span] | None = None
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, **tags) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._op_stack[-1] if self._op_stack else None)
        with self._lock:
            span = Span(len(self.spans), name, parent.id if parent else None, self._op,
                        time.perf_counter(), tags=tags)
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    @contextmanager
    def span(self, name: str, **tags):
        span = self.open(name, **tags)
        try:
            yield span
        finally:
            self.close(span)

    def begin_op(self, op: int, kind: str) -> Span:
        self._op = op
        span = self.open("op", kind=kind)
        self._op_stack = self._stack()
        return span

    def end_op(self, span: Span) -> None:
        self.close(span)
        self._op = None
        self._op_stack = None

    def count(self, key: str, value: float = 1.0) -> None:
        if self._op is not None:
            with self._lock:
                self.counts[key] += value

    # -- wrappers --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None, tag=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``before``
        runs first and may return a context for ``after(result, context,
        args, kwargs)``; both run inside a ``trace.bookkeeping`` span so
        their cost is kept out of the parent's self time. ``tag(args,
        kwargs)`` returns tags for the span."""
        func = owner.__dict__[attr]
        recorder = self

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            if recorder._op is None:
                return func(*args, **kwargs)
            ctx = None
            if before is not None:
                with recorder.span("trace.bookkeeping"):
                    ctx = before(args, kwargs)
            with recorder.span(name, **(tag(args, kwargs) if tag else {})):
                result = func(*args, **kwargs)
            if after is not None:
                with recorder.span("trace.bookkeeping"):
                    after(result, ctx, args, kwargs)
            return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, func))

    def install(self) -> None:
        """Wrap the public entry points of every layer the workloads reach."""
        from mssql2monetdb_spark import catalog
        from mssql2monetdb_spark.engine import copy as copy_mod
        from mssql2monetdb_spark.engine.copy import CopyEngine
        from mssql2monetdb_spark.engine.fs import LocalFS
        from mssql2monetdb_spark.engine.publish import VersionedCatalog
        from mssql2monetdb_spark.engine.watermark import WatermarkStore

        rec = self

        def memo_size(args, kwargs):
            return len(catalog._TABLE_CACHE)  # noqa: SLF001 - read-only memo probe

        def memo_after(result, before_size, args, kwargs):
            rec.count("catalog.load_table.calls")
            if len(catalog._TABLE_CACHE) <= before_size:  # noqa: SLF001
                rec.count("catalog.memo_hits")

        self.wrap(catalog, "load_table", "catalog.load_table", memo_size, memo_after)
        self.wrap(copy_mod, "read_source", "sources.read_source")
        self.wrap(copy_mod, "normalized_dataframe", "schema.normalize")
        self.wrap(copy_mod, "evolve_to_union", "schema.evolve")
        self.wrap(copy_mod, "probe_max", "watermark.probe",
                  after=lambda r, c, a, k: rec.count("watermark.probes"))

        def fresh(result, ctx, args, kwargs):
            rec.count("watermark.decisions")
            rec.count("watermark.fresh", 1.0 if result else 0.0)

        self.wrap(copy_mod, "has_new_data", "watermark.has_new_data", after=fresh)
        self.wrap(CopyEngine, "do_copy", "copy.do_copy")
        self.wrap(CopyEngine, "check_for_new_data", "copy.trigger")
        self.wrap(CopyEngine, "assert_non_empty", "copy.extract")

        self.wrap(CopyEngine, "count_source", "sources.count",
                  after=lambda r, c, a, k: rec.count("sources.rows", r),
                  tag=lambda a, k: {"jdbc": a[0].spec.sources[a[1].source].format == "jdbc"})
        self.wrap(WatermarkStore, "load", "watermark.state_io")
        self.wrap(WatermarkStore, "save", "watermark.state_io")

        def written(physical, ctx, args, kwargs):
            cat, schema = args[0], args[2]
            files, size = _dir_stats(cat.version_dir(schema, physical))
            rec.count("publish.files_written", files)
            rec.count("publish.bytes_written", size)

        self.wrap(VersionedCatalog, "write_version", "publish.write_version", after=written)
        self.wrap(VersionedCatalog, "write_version_incremental", "publish.incremental_write",
                  after=written)
        self.wrap(VersionedCatalog, "publish", "publish.switch")

        def sizes_before(args, kwargs):
            cat, schema, table = args[0], args[1], args[2]
            return {v: _tree_bytes(cat.version_dir(schema, v))
                    for v in os.listdir(cat.schema_dir(schema))
                    if v.startswith(f"{table}_")}

        def deleted(dropped, before, args, kwargs):
            rec.count("publish.versions_deleted", len(dropped))
            rec.count("publish.bytes_deleted", sum(before.get(v, 0) for v in dropped))

        self.wrap(VersionedCatalog, "cleanup", "publish.cleanup", sizes_before, deleted)
        for method in FS_METHODS:
            self.wrap(LocalFS, method, f"fs.{method}")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # -- analysis --------------------------------------------------------
    def op_spans(self) -> list[Span]:
        return [s for s in self.spans if s.op is not None]

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        return {s.id: self_time(s.start, s.end, children[s.id]) for s in self.spans}


FS_METHODS = (
    "exists",
    "isdir",
    "listdir",
    "makedirs",
    "read_text",
    "write_atomic",
    "remove",
    "rmtree",
    "rmtree_quiet",
    "link",
    "copy",
)
