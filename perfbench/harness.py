"""Measurement plumbing shared by the workloads: the closed loop, latency
statistics, process CPU and memory from ``/proc``, Spark's status store,
and the counting seams passed to the engine's constructor.

Everything here observes the engine from outside: the seams are
pass-through wrappers of the ``MetadataStore`` and ``FileSystem``
arguments of ``GlueSparkEngine``, and Spark's own status store supplies
the execution metrics.
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator

from glue_table_cache_spark.listing import LocalFileSystem

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


# -- statistics ---------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q <= 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    return xs[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank q-quantile."""
    return n - max(1, math.ceil(q * n))


def min_samples(q: float) -> int:
    """Fewest samples for which the q-quantile has ``TAIL_BEYOND``
    samples beyond it."""
    n = 1
    while samples_beyond(n, q) < TAIL_BEYOND:
        n += 1
    return n


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def interquartile_mean(values: list[float]) -> float:
    """Mean of the middle half of ``values``: a quarter of them, rounded
    down, is dropped from each end."""
    if not values:
        raise ValueError("interquartile mean of no samples")
    xs = sorted(values)
    cut = len(xs) // 4
    mid = xs[cut:len(xs) - cut]
    return sum(mid) / len(mid)


# -- /proc --------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(entry))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants (JVM, Python workers)."""
    kids = _children()
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _process_clock(pid: int) -> int:
    """Linux clock id of the CPU time of every thread of ``pid``
    (``MAKE_PROCESS_CPUCLOCK(pid, CPUCLOCK_SCHED)``), read to the
    nanosecond where ``/proc/<pid>/stat`` counts clock ticks."""
    return ((~pid) << 3) | 2


def tree_cpu_s() -> float:
    """CPU seconds of the whole process tree, including descendants that
    have already been reaped (those only to the clock tick)."""
    total = 0.0
    for pid in process_tree():
        f = _stat_fields(pid)
        if f is None:
            continue
        try:
            total += time.clock_gettime(_process_clock(pid))
        except OSError:
            continue  # exited since the tree was listed
        # cutime, cstime (stat fields 16-17): reaped children
        total += (int(f[13]) + int(f[14])) / _CLK_TCK
    return total


class JitClock:
    """CPU seconds used so far by the JIT compiler threads of the JVM in
    the process tree.  The JVM starts and stops compiler threads as its
    compile queue grows and drains; one that has exited keeps the last
    figure read for it."""

    def __init__(self) -> None:
        self._names: dict[tuple[int, int], str] = {}
        self._ns: dict[tuple[int, int], int] = {}

    def _name(self, pid: int, tid: int) -> str:
        key = (pid, tid)
        name = self._names.get(key)
        if name is None:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    name = fh.read().strip()
            except OSError:
                return ""
            # a new JVM thread runs under the launcher's name until it
            # names itself
            if name != "java":
                self._names[key] = name
        return name

    def __call__(self) -> float:
        for pid in process_tree():
            try:
                tids = [int(t) for t in os.listdir(f"/proc/{pid}/task")]
            except OSError:
                continue
            for tid in tids:
                if "CompilerThre" not in self._name(pid, tid):
                    continue
                try:
                    # nanoseconds on a CPU: the first schedstat field
                    with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                        self._ns[(pid, tid)] = int(fh.read().split()[0])
                except OSError:
                    pass
        return sum(self._ns.values()) / 1e9


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def process_start_wall() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[19])
    return time.time() - uptime + start_ticks / _CLK_TCK


# -- closed loop --------------------------------------------------------------


@dataclass
class Op:
    """One client request.  ``call`` issues it (returns a DataFrame or a
    value), ``action`` forces the result, ``check`` validates it and
    returns an error text or ``None``."""

    kind: str
    label: str
    call: Callable[[], object]
    action: Callable[[object], object]
    check: Callable[[object], str | None]
    #: glue refs the op resolves (metadata-cache lookups)
    refs: int = 0
    #: of those, refs whose scan goes through the listing cache
    listing_refs: int = 0
    #: tables the op reads and writes
    tables: tuple[str, ...] = ()
    writes: tuple[str, ...] = ()
    #: workload data for its before_op/after_op hooks
    payload: object = None


@dataclass
class OpRecord:
    op_id: str
    kind: str
    label: str
    start: float
    call_end: float
    end: float
    error: str | None
    refs: int
    listing_refs: int
    tables: tuple[str, ...] = ()
    writes: tuple[str, ...] = ()
    result_rows: int = 0
    result_bytes: int = 0
    #: CPU of the whole process tree while the op ran, less the JVM's JIT
    #: compilation, and the JIT compilation's own
    cpu_s: float = 0.0
    jit_cpu_s: float = 0.0
    exec: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.end - self.start


def result_size(result) -> tuple[int, int]:
    """(rows, bytes) of an Arrow table; (0, 0) for anything else."""
    if hasattr(result, "num_rows") and hasattr(result, "nbytes"):
        return int(result.num_rows), int(result.nbytes)
    return 0, 0


class ClosedLoop:
    """``clients`` threads, each sending its next op only when the previous
    returned.  Ops come in blocks (a fixed mix); a client stops at the end
    of the first block that finishes after ``seconds``, or when
    ``hard_stop_s`` has passed, and never before ``min_ops`` ops have
    completed in total.

    Each op's record holds the CPU the process tree spent while it ran,
    split into JIT compilation and the rest.  That CPU is the op's own
    only with one client, which every workload uses."""

    def __init__(
        self,
        spark,
        streams: list[Iterator[list[Op]]],
        seconds: float,
        min_ops: int,
        hard_stop_s: float,
        on_op: Callable[[Op, str], None] | None = None,
        after_op: Callable[[Op, OpRecord], None] | None = None,
    ) -> None:
        self.spark = spark
        self.streams = streams
        self.seconds = seconds
        self.min_ops = min_ops
        self.hard_stop_s = hard_stop_s
        self.on_op = on_op
        self.after_op = after_op
        self.records: list[OpRecord] = []
        self.jit = JitClock()
        self.client_ends: list[float] = []
        self._lock = threading.Lock()
        self._errors: list[BaseException] = []

    def _done(self, t0: float) -> bool:
        elapsed = time.perf_counter() - t0
        if elapsed > self.hard_stop_s:
            return True
        with self._lock:
            n = len(self.records)
        return elapsed >= self.seconds and n >= self.min_ops

    def _client(self, idx: int, t0: float) -> None:
        sc = self.spark.sparkContext
        seq = 0
        for block in self.streams[idx]:
            for op in block:
                op_id = f"op-{idx}-{seq}"
                seq += 1
                sc.setJobGroup(op_id, op.label, False)
                if self.on_op is not None:
                    self.on_op(op, op_id)
                err = None
                result = None
                cpu0, jit0 = tree_cpu_s(), self.jit()
                start = time.perf_counter()
                call_end = start
                try:
                    value = op.call()
                    call_end = time.perf_counter()
                    result = op.action(value)
                except Exception as exc:  # noqa: BLE001 - a failed op is data
                    err = f"{type(exc).__name__}: {exc}"[:500]
                end = time.perf_counter()
                jit = self.jit() - jit0
                cpu = tree_cpu_s() - cpu0 - jit
                if err is None:
                    try:
                        err = op.check(result)
                    except Exception as exc:  # noqa: BLE001
                        err = f"check raised {type(exc).__name__}: {exc}"
                rows, nbytes = result_size(result)
                rec = OpRecord(
                    op_id, op.kind, op.label, start, call_end, end, err,
                    op.refs, op.listing_refs, op.tables, op.writes,
                    rows, nbytes, cpu, jit,
                )
                if self.after_op is not None:
                    self.after_op(op, rec)
                with self._lock:
                    self.records.append(rec)
            if self._done(t0):
                break
        with self._lock:
            self.client_ends.append(time.perf_counter())

    def run(self) -> float:
        """Run every client to completion; returns the loop's wall time."""
        t0 = self.t0 = time.perf_counter()

        def body(i: int) -> None:
            try:
                self._client(i, t0)
            except BaseException as exc:  # noqa: BLE001 - re-raised below
                with self._lock:
                    self._errors.append(exc)

        threads = [
            threading.Thread(target=body, args=(i,), daemon=True)
            for i in range(len(self.streams))
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(self.hard_stop_s + 120)
            if th.is_alive():
                raise RuntimeError("client thread did not finish")
        if self._errors:
            raise self._errors[0]
        return time.perf_counter() - t0

    def throughput(self) -> float:
        """Ops completed per second while every client was still running,
        so the rate is always measured at the full client count."""
        t_end = min(self.client_ends)
        done = [r for r in self.records if r.error is None and r.end <= t_end]
        return len(done) / (t_end - self.t0)


# -- Spark status store ---------------------------------------------------------

EXEC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "jvm_gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes",
)


def stage_metrics(spark, group: str) -> dict:
    """Stage totals of the jobs in job group ``group``, read from the
    status store right after the op: the store keeps only the last
    ``spark.ui.retainedJobs``/``retainedStages`` entries."""
    from py4j.protocol import Py4JError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(EXEC_KEYS, 0)
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JError:
            continue  # skipped stages never ran
        if str(st.status()) not in ("COMPLETE", "FAILED"):
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["jvm_gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["input_bytes"] += st.inputBytes()
    return out


# -- counting seams -------------------------------------------------------------


class CountingStore:
    """Pass-through ``MetadataStore`` that counts and times calls and logs
    each table load as ``(time, table)``."""

    def __init__(self, inner) -> None:
        self._inner = inner
        self._lock = threading.Lock()
        self.get_table_calls = 0
        self.get_partitions_calls = 0
        self.seconds = 0.0
        self.loads: list[tuple[float, str]] = []
        #: a ``tracing.Tracer`` that gets a "catalog" span per call
        self.tracer = None

    def get_table(self, database: str, table: str):
        t0 = time.perf_counter()
        try:
            return self._inner.get_table(database, table)
        finally:
            t1 = time.perf_counter()
            with self._lock:
                self.get_table_calls += 1
                self.seconds += t1 - t0
                self.loads.append((t0, table.lower()))
            if self.tracer is not None:
                self.tracer.record("catalog", t0, t1)

    def get_partitions(self, database: str, table: str):
        t0 = time.perf_counter()
        try:
            return self._inner.get_partitions(database, table)
        finally:
            t1 = time.perf_counter()
            with self._lock:
                self.get_partitions_calls += 1
                self.seconds += t1 - t0
            if self.tracer is not None:
                self.tracer.record("catalog", t0, t1)

    def __getattr__(self, name: str):
        # register_table, list_tables, ... for CTAS and SHOW
        return getattr(self._inner, name)


class CountingFileSystem(LocalFileSystem):
    """``LocalFileSystem`` that counts calls, objects returned and time.

    ``roots`` maps table locations to table names.  A call on the entry
    point of a table's listing or metadata walk (the table directory,
    ``_delta_log``, ``metadata`` or ``.hoodie``) is logged as
    ``(time, table)``; :func:`cache_stats` turns those into loads."""

    def __init__(self, roots: dict[str, str] | None = None) -> None:
        self._lock = threading.Lock()
        self.calls = 0
        self.objects = 0
        self.seconds = 0.0
        self.roots = dict(roots or {})
        self.entries: list[tuple[float, str]] = []
        #: a ``tracing.Tracer`` that gets a "listing" span per call
        self.tracer = None

    def _entry_table(self, location: str) -> str | None:
        loc = location.rstrip("/")
        name = self.roots.get(loc)
        if name is not None:
            return name
        head, _, tail = loc.rpartition("/")
        if tail in ("_delta_log", "metadata", ".hoodie"):
            return self.roots.get(head)
        return None

    def _record(self, location: str, n: int, t0: float) -> None:
        name = self._entry_table(location)
        t1 = time.perf_counter()
        with self._lock:
            self.calls += 1
            self.objects += n
            self.seconds += t1 - t0
            if name is not None:
                self.entries.append((t0, name))
        if self.tracer is not None:
            self.tracer.record("listing", t0, t1, {"objects": n})

    def list_files(self, location: str) -> list[str]:
        t0 = time.perf_counter()
        out = super().list_files(location)
        self._record(location, len(out), t0)
        return out

    def list_dir(self, location: str) -> tuple[list[str], list[str]]:
        t0 = time.perf_counter()
        dirs, files = super().list_dir(location)
        self._record(location, len(dirs) + len(files), t0)
        return dirs, files


def attribute_loads(
    records: list["OpRecord"], events: list[tuple[float, str]]
) -> list[tuple[float, str]]:
    """Loads as ``(time, table)``, one per (op, table) pair: an event on a
    table counts for the earliest-started op whose window holds it and
    which reads that table; events outside any such op are dropped."""
    loaded: dict[tuple[str, str], float] = {}
    for t, table in events:
        owner = None
        for r in records:
            if r.start <= t <= r.end and table in r.tables:
                if owner is None or r.start < owner.start:
                    owner = r
        if owner is not None:
            loaded.setdefault((owner.op_id, table), t)
    return sorted((t, table) for (_op, table), t in loaded.items())


def count_reloads(
    loads: list[tuple[float, str]], writes: list[tuple[float, str]]
) -> int:
    """Loads of a table already loaded this run with no write of it in
    between.  With hour-long TTLs such a reload means an LRU eviction."""
    events = sorted(
        [(t, 1, table) for t, table in loads]
        + [(t, 0, table) for t, table in writes]
    )
    live: set[str] = set()
    reloads = 0
    for _t, is_load, table in events:
        if not is_load:
            live.discard(table)
        elif table in live:
            reloads += 1
        else:
            live.add(table)
    return reloads


def cache_stats(
    records: list["OpRecord"],
    store: CountingStore,
    fs: CountingFileSystem,
) -> dict[str, float]:
    """Hit ratios and reloads of the metadata and listing caches, seen from
    the seams: hits are lookups minus loads."""
    done = [r for r in records if r.error is None]
    writes = [(r.end, t) for r in records for t in r.writes]
    meta_lookups = sum(r.refs for r in records)
    meta_loads = [e for e in store.loads if any(
        r.start <= e[0] <= r.end for r in records)]
    list_lookups = sum(r.listing_refs for r in done)
    list_loads = attribute_loads(done, fs.entries)

    def ratio(loads: int, lookups: int) -> float:
        return 1.0 - loads / lookups if lookups else 0.0

    return {
        "cache.metadata_hit_ratio": ratio(len(meta_loads), meta_lookups),
        "cache.listing_hit_ratio": ratio(len(list_loads), list_lookups),
        "cache.metadata_reloads": float(count_reloads(meta_loads, writes)),
        "cache.listing_reloads": float(count_reloads(list_loads, writes)),
    }
