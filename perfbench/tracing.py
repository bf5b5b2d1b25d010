"""Span tracing around the engine's layer entry points.

A traced run replaces each entry point, at the name the engine looks it up
by, with a wrapper that records a span (name, start, end, parent span, op
id) and optional counts.  Spans stay in memory and are written out when
the run ends.  Tracing is switched per op: the closed loop alternates
traced and untraced ops, so the difference in their median latency is the
tracing overhead, measured under the same load.

Entry points bound at module level in ``engine.py`` are patched on the
``engine`` module; those imported inside engine functions are patched on
their source module, which the import statement reads at call time.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path
from typing import Callable


def traced(op_id: str) -> bool:
    """Whether the op with this id runs traced: every other op of each
    client, so traced and untraced ops share the same load."""
    return int(op_id.rsplit("-", 1)[1]) % 2 == 0


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    counts: dict


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its child spans cover
    (children may overlap each other, e.g. when they run in a pool)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
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
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Collects spans from the threads whose tracing flag is on."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- per-thread context ------------------------------------------------

    def context(self) -> tuple[bool, str | None, int | None]:
        loc = self._local
        stack = getattr(loc, "stack", None) or []
        return (
            getattr(loc, "on", False),
            getattr(loc, "op", None),
            stack[-1] if stack else None,
        )

    def enter_context(self, ctx: tuple[bool, str | None, int | None]) -> None:
        on, op, parent = ctx
        self._local.on = on
        self._local.op = op
        self._local.stack = [parent] if parent is not None else []

    def begin_op(self, op_id: str, on: bool) -> None:
        self.enter_context((on, op_id, None))

    def active(self) -> bool:
        return getattr(self._local, "on", False)

    # -- spans -------------------------------------------------------------

    def call(self, name: str, fn: Callable, args, kwargs, count=None):
        if not self.active():
            return fn(*args, **kwargs)
        loc = self._local
        sid = next(self._ids)
        parent = loc.stack[-1] if loc.stack else None
        loc.stack.append(sid)
        counts: dict = {}
        t0 = time.perf_counter()
        c0 = time.thread_time()
        try:
            result = fn(*args, **kwargs)
            if count is not None:
                counts = count(args, kwargs, result)
            return result
        finally:
            counts["thread_cpu_s"] = time.thread_time() - c0
            t1 = time.perf_counter()
            loc.stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, t0, t1, parent, loc.op, counts)
                )

    def record(self, name: str, t0: float, t1: float, counts=None) -> None:
        """A span for work timed by a seam (no wrapper needed)."""
        if not self.active():
            return
        loc = self._local
        parent = loc.stack[-1] if loc.stack else None
        with self._lock:
            self.spans.append(
                Span(next(self._ids), name, t0, t1, parent, loc.op,
                     counts or {})
            )

    # -- patching ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        if isinstance(owner, type):
            def method(self_, *args, **kwargs):
                return tracer.call(
                    name, fn, (self_,) + args, kwargs, count
                )
            wrapped = method
        else:
            def wrapped(*args, **kwargs):
                return tracer.call(name, fn, args, kwargs, count)
        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def _len0(result) -> int:
    """Entry count of a walk result: a list, or a tuple led by one."""
    if isinstance(result, tuple) and result and isinstance(result[0], list):
        return len(result[0])
    try:
        return len(result)
    except TypeError:
        return 0


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point the benchmark reports on."""
    from glue_table_cache_spark import engine as E
    from glue_table_cache_spark import skipping
    from glue_table_cache_spark import transformer as T
    from glue_table_cache_spark.sources import delta, hudi, iceberg

    cls = E.GlueSparkEngine
    tracer.wrap(cls, "sql", "engine.sql")
    tracer.wrap(
        E, "get_query_glue_table_refs", "transformer",
        lambda a, k, r: {"refs": len(r)},
    )
    tracer.wrap(E, "rewrite_query", "transformer")
    for attr in ("extract_time_travel", "extract_metadata_refs",
                 "extract_table_changes"):
        tracer.wrap(T, attr, "transformer")
    tracer.wrap(
        delta, "delta_scan_info", "sources.delta",
        lambda a, k, r: {"entries": _len0(r)},
    )
    tracer.wrap(
        iceberg, "iceberg_scan_details", "sources.iceberg",
        lambda a, k, r: {"entries": _len0(r)},
    )
    for attr in ("hudi_scan_info", "hudi_mor_scan_info"):
        tracer.wrap(
            hudi, attr, "sources.hudi",
            lambda a, k, r: {"entries": _len0(r)},
        )

    def prune_count(args, kwargs, result):
        return {"files_in": len(args[0]), "files_out": len(result)}

    tracer.wrap(E, "prune_files", "pruning", prune_count)

    def skip_count(args, kwargs, result):
        n = len(args[0])
        return {"files_in": n, "files_skipped": n - len(result)}

    tracer.wrap(skipping, "skip_files", "skipping", skip_count)

    def read_count(args, kwargs, result):
        # _format_read(reader, tbl, *paths): a single table-root path is
        # a native directory scan that Spark lists itself
        paths = args[3:]
        tbl = args[2]
        native = (
            len(paths) == 1 and tbl is not None
            and str(paths[0]).rstrip("/") == str(tbl.location).rstrip("/")
        )
        return {"files": 0 if native else len(paths), "native": int(native)}

    tracer.wrap(cls, "_format_read", "scan", read_count)
    tracer.wrap(
        delta, "read_parquet_files", "scan",
        lambda a, k, r: {"files": len(list(a[2])), "native": 0},
    )
    tracer.wrap(cls, "_execute_dml", "sinks")
    tracer.wrap(cls, "_execute_maintenance", "sinks")

    from pyspark import SparkContext

    class ContextPool(ThreadPoolExecutor):
        """The engine's per-ref thread pool, carrying the caller's span (the
        parent of spans its tasks record) and Spark job group (so the
        status store attributes their jobs to the op)."""

        def submit(self, fn, /, *args, **kwargs):
            ctx = tracer.context()
            sc = SparkContext._active_spark_context
            group = sc.getLocalProperty("spark.jobGroup.id")

            def run():
                tracer.enter_context(ctx)
                if group is not None:
                    sc.setJobGroup(group, group, False)
                return fn(*args, **kwargs)

            return super().submit(run)

    tracer._patches.append((E, "ThreadPoolExecutor", E.ThreadPoolExecutor))
    E.ThreadPoolExecutor = ContextPool


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: calls, total time, self time and summed counts."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        agg = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0})
        agg["calls"] += 1
        agg["s"] += s.end - s.start
        agg["self_s"] += selfs[s.id]
        for k, v in s.counts.items():
            agg[k] = agg.get(k, 0) + v
    return out
