"""Shared pieces of the workload driver: spans, statistics, counters."""

from __future__ import annotations

import contextlib
import json
import math
import sqlite3
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field


# --------------------------------------------------------------------------
# Tracing: spans recorded from the benchmark side around public calls
# --------------------------------------------------------------------------
@dataclass
class Span:
    op_id: int
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory spans. Disabled, ``span`` is a shared no-op context."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_id = 0
        self._null = contextlib.nullcontext()

    def begin_op(self, op_id: int) -> None:
        self._op_id = op_id

    def span(self, name: str):
        if not self.enabled:
            return self._null
        return self._record(name)

    @contextlib.contextmanager
    def _record(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(self._op_id, len(self.spans), parent, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Seconds of self time per layer over the given ops: a span's
        duration minus the part covered by its (sequential) children."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent_id is not None and s.op_id in op_ids:
                child_time[s.parent_id] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.op_id in op_ids:
                out[s.layer] += (s.end - s.start) - child_time[s.span_id]
        return dict(out)

    def name_times(self, op_ids: set[int]) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if s.op_id in op_ids:
                out[s.name].append(s.end - s.start)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# --------------------------------------------------------------------------
# Timed-phase bookkeeping
# --------------------------------------------------------------------------
@dataclass
class OpLog:
    """Latencies per op kind and class, plus failures."""

    kinds: dict[str, str]  # kind -> class, e.g. "bulk_read" or "query"
    lat: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))  # by kind
    rows: dict[str, int] = field(default_factory=lambda: defaultdict(int))  # by class
    attempted: int = 0
    failed: int = 0
    op_ids: set[int] = field(default_factory=set)

    def record(self, kind: str, seconds: float, ok: bool, rows: int = 0) -> None:
        self.attempted += 1
        if ok:
            self.lat[kind].append(seconds)
            self.rows[self.kinds[kind]] += rows
        else:
            self.failed += 1


def run_op(tracer: Tracer, log: OpLog, op_id: int, kind: str, fn) -> None:
    """Time one op; ``fn`` returns (rows, check) where ``check`` is a
    callable run after the clock stops that returns None or a failure text."""
    tracer.begin_op(op_id)
    log.op_ids.add(op_id)
    try:
        t0 = time.perf_counter()
        with tracer.span(f"client.{kind}"):
            rows, check = fn()
        dt = time.perf_counter() - t0
        problem = check()
    except Exception:  # one failed op must not end the run; it is counted
        traceback.print_exc(file=sys.stderr)
        log.record(kind, 0.0, False)
        return
    if problem:
        print(f"perfbench: wrong result for {kind}: {problem}", file=sys.stderr)
    log.record(kind, dt, problem is None, rows)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when the samples do not allow one that
    differs from the median."""
    n = len(values)
    pct = math.floor(100 * (n - 10) / n) if n > 10 else 0
    if pct <= 50:
        return None
    xs = sorted(values)
    return pct, xs[min(n - 1, math.ceil(n * pct / 100) - 1)]


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summarize(log: OpLog, workload: str) -> tuple[dict[str, float], list[str]]:
    """End-to-end metrics shared by every workload, and printable lines."""
    med = {k: statistics.median(v) for k, v in log.lat.items() if v}
    mean = {k: statistics.fmean(v) for k, v in log.lat.items() if v}
    missing = [k for k in log.kinds if k not in med]
    if missing:
        raise RuntimeError(f"no successful op of kind {missing} in the timed phase")
    metrics = {
        # one client running each kind once, back to back: a balanced cycle
        "ops_per_s": len(mean) / sum(mean.values()),
        "p50_ms": 1000 * geomean(med.values()),
    }
    lines = [f"# workload {workload}: {log.attempted} timed ops, {log.failed} failed"]
    by_class: dict[str, list[float]] = defaultdict(list)
    busy: dict[str, float] = defaultdict(float)
    for k, v in log.lat.items():
        by_class[log.kinds[k]].extend(v)
        busy[log.kinds[k]] += sum(v)
    for cls, v in sorted(by_class.items()):
        lines.append(f"# {cls}_p50_ms = {1000 * statistics.median(v):.3f} ms (n={len(v)})")
        t = tail(v)
        if t:
            lines.append(f"# {cls}_tail_ms = p{t[0]:.0f} {1000 * t[1]:.3f} ms (n={len(v)})")
        else:
            lines.append(f"# {cls}_tail_ms omitted: n={len(v)} leaves no percentile above the median with 10 samples beyond it")
        if log.rows.get(cls):
            lines.append(f"# {cls}_rows_per_s = {log.rows[cls] / busy[cls]:.1f} rows/s (n={len(v)})")
    for k in log.kinds:
        lines.append(f"#   {k}: p50 {1000 * med[k]:.3f} ms, mean {1000 * mean[k]:.3f} ms (n={len(log.lat[k])})")
    return metrics, lines


# --------------------------------------------------------------------------
# Spark job/task counters and SQLite file counters
# --------------------------------------------------------------------------
class JobCounter:
    """Jobs and tasks one call started, from the status tracker.

    The status store behind the tracker is filled asynchronously by the
    listener bus, so the counts are read only after the bus has been
    drained and every job of the call reports SUCCEEDED with no task of
    its stages still active."""

    def __init__(self, spark, timeout_s: float = 30.0):
        self.sc = spark.sparkContext
        self.bus = self.sc._jsc.sc().listenerBus()
        self.timeout_s = timeout_s
        self.n = 0

    def _settled(self, group: str) -> list[int]:
        st = self.sc.statusTracker()
        deadline = time.monotonic() + self.timeout_s
        while True:
            self.bus.waitUntilEmpty()
            jobs = sorted(st.getJobIdsForGroup(group))
            infos = [st.getJobInfo(j) for j in jobs]
            stages = [st.getStageInfo(s) for i in infos if i for s in i.stageIds]
            if all(i and i.status == "SUCCEEDED" for i in infos) and all(
                s is None or s.numActiveTasks == 0 for s in stages
            ):
                return jobs
            if time.monotonic() > deadline:
                raise RuntimeError(f"jobs of {group} did not settle within {self.timeout_s} s")
            time.sleep(0.05)

    @contextlib.contextmanager
    def count(self, out: dict):
        self.n += 1
        group = f"perfbench-count-{self.n}"
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            jobs = self._settled(group)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    if stage and stage.numCompletedTasks:
                        tasks += stage.numCompletedTasks
            out["jobs"] = out.get("jobs", 0) + len(jobs)
            out["tasks"] = out.get("tasks", 0) + tasks


def change_counter(db_path: str) -> int:
    """SQLite file change counter (header bytes 24..27): one per commit
    under journal_mode=delete."""
    with open(db_path, "rb") as f:
        header = f.read(28)
    return int.from_bytes(header[24:28], "big")


def db_bytes(db_path: str) -> tuple[int, int]:
    """(page_count * page_size, bytes of user values in every table)."""
    conn = sqlite3.connect(db_path)
    try:
        pages = conn.execute("PRAGMA page_count").fetchone()[0]
        size = conn.execute("PRAGMA page_size").fetchone()[0]
        user = 0
        tables = [r[0] for r in conn.execute("SELECT name FROM sqlite_master WHERE type = 'table'")]
        for t in tables:
            for row in conn.execute(f'SELECT * FROM "{t}"'):
                for v in row:
                    user += value_bytes(v)
    finally:
        conn.close()
    return pages * size, user


def value_bytes(v) -> int:
    if v is None:
        return 0
    if isinstance(v, (int, float)):
        return 8
    if isinstance(v, str):
        return len(v.encode("utf-8"))
    return len(v)


def micro_cost(fn, items, repeats: int = 5) -> float:
    """Median over ``repeats`` of seconds per item of ``fn(item)``."""
    per = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        per.append((time.perf_counter() - t0) / len(items))
    return statistics.median(per)
