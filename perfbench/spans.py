"""In-memory spans around the engine's layer entry points.

A span records name, start, end, the span that caused it and the
submission (request) it belongs to. Spans stay in memory and are written
out once, at the end of a run. Spark jobs and tasks are attributed to the
innermost open span: each span runs its calls under its own job group, and
at the span's end the status tracker lists the group's jobs.

The engine is never edited: ``instrument`` replaces module attributes with
wrappers, on the module where the caller looks the name up. ``pipeline``
imports ``store_items``, ``compile_collection`` and ``check_collection``
by name, so those are wrapped on ``pipeline`` itself.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import weakref
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    request: int | None
    name: str
    start: float
    end: float
    jobs: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → duration minus the part of it that child spans cover
    (children of one span may overlap; their union is subtracted)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer costs one
    attribute test per wrapped call."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.enabled = False
        self.request: int | None = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` wrapped in a span; ``on_result(span, args, result)`` may
        add attributes once the call returns."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, result)
                return result
        return wrapper

    def _group(self, sid: int | None) -> str:
        return f"perfbench-span-{sid}" if sid is not None else "perfbench-none"

    def finish(self) -> None:
        """Count each span's Spark jobs and tasks. Job events reach the
        status tracker asynchronously, so this runs once, at the end."""
        if self.sc is None:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for span in self.spans:
            for jid in tracker.getJobIdsForGroup(self._group(span.id)):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                span.jobs += 1
                for stid in info.stageIds:
                    st = tracker.getStageInfo(stid)
                    if st is not None:
                        span.tasks += st.numCompletedTasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.span = Span(t._next, parent, t.request, self.name, 0.0, 0.0)
        t._next += 1
        t._stack.append(self.span.id)
        if t.sc is not None:
            t.sc.setJobGroup(t._group(self.span.id), self.name)
        self.span.start = time.perf_counter()
        return self.span

    def __exit__(self, *exc) -> None:
        t = self.t
        self.span.end = time.perf_counter()
        t._stack.pop()
        if t.sc is not None:
            parent = t._stack[-1] if t._stack else None
            t.sc.setJobGroup(t._group(parent), "")
        t.spans.append(self.span)


def instrument(tracer: Tracer) -> None:
    """Wrap every layer entry point the benchmark's calls reach."""
    from kingfisher_process_spark import api, pipeline
    from kingfisher_process_spark.operators import compile_release, lifecycle
    from kingfisher_process_spark.sources import detect

    upgraded_frames = weakref.WeakSet()

    def tag_upgraded(span, args, result):
        upgraded_frames.add(result)

    def store_items_span(fn):
        @functools.wraps(fn)
        def wrapper(store, collection_id, fmt, parsed):
            if not tracer.enabled:
                return fn(store, collection_id, fmt, parsed)
            layer = "upgrade.store" if parsed in upgraded_frames else "loader.store"
            before = parquet_rows(store.path("data"))
            with tracer.span(layer) as sp:
                result = fn(store, collection_id, fmt, parsed)
                sp.attrs["items"] = result.get("rows", 0)
            sp.attrs["new_payloads"] = parquet_rows(store.path("data")) - before
            return result
        return wrapper

    pipeline.store_items = store_items_span(pipeline.store_items)
    pipeline._upgrade_parsed = tracer.wrap(
        "upgrade.map", pipeline._upgrade_parsed, tag_upgraded)
    pipeline.compile_collection = tracer.wrap(
        "compile", pipeline.compile_collection,
        lambda sp, a, r: sp.attrs.update(compiled=r.get("compiled", 0)))
    pipeline.check_collection = tracer.wrap(
        "check", pipeline.check_collection,
        lambda sp, a, r: sp.attrs.update(items=r))
    pipeline.parse_files = tracer.wrap("sources.parse", pipeline.parse_files)
    detect.detect_format = tracer.wrap("sources.detect", detect.detect_format)
    for name in ("skew_routed_compiled", "two_phase_compiled",
                 "grouped_apply_sorted_arrow", "persist_compiled"):
        setattr(compile_release, name,
                tracer.wrap(f"compile.{name}", getattr(compile_release, name)))
    for name in ("process_collection", "open_collection", "register_files",
                 "load_pending", "close_and_process"):
        setattr(pipeline, name, tracer.wrap(f"pipeline.{name}",
                                            getattr(pipeline, name)))
    for name, fn in list(vars(lifecycle).items()):
        if (callable(fn) and getattr(fn, "__module__", None) == lifecycle.__name__
                and not name.startswith("__") and name != "_now"):
            setattr(lifecycle, name, tracer.wrap(f"lifecycle.{name}", fn))
    for name in ("metadata", "collection_status", "tree", "notes"):
        setattr(api, name, tracer.wrap(f"api.{name}", getattr(api, name)))


def parquet_rows(path: str) -> int:
    """Rows in a parquet table directory, from the file footers."""
    import pyarrow.parquet as pq

    n = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


def tree_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under a directory."""
    n_files = n_bytes = 0
    for root, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += f.endswith(".parquet")
    return n_files, n_bytes


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss(os.getpid(), page))
            self._stop.wait(self.interval)


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = set(), {root_pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier and p not in tree}
        tree.update(frontier)
    return sorted(tree)


def tree_rss(root_pid: int, page: int) -> int:
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total
