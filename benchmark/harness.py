"""Measurement plumbing shared by every workload: spans, Spark job groups,
process-tree memory and the correctness ledger.

Nothing here imports the engine; the workloads hand it closures that call
the engine's public functions.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is [name, start, end, parent, req]:
    `parent` is the index of the enclosing span (or None) and `req` the
    request id (query, batch, build or pass id) the span belongs to.

    Disabled, `span()` still nests correctly but records nothing, so the
    untraced run pays one generator frame per public call and no more."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = self.spans[parent][4]
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, req])
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    def self_times(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """Per-name self time (duration minus child coverage) of every span
        that started inside one of `windows`. Spans come from one thread,
        so a span's children are disjoint and their durations simply add."""
        child_cover = [0.0] * len(self.spans)
        for _name, s, e, parent, _req in self.spans:
            if parent is not None:
                child_cover[parent] += e - s
        out: dict[str, float] = {}
        for i, (name, s, e, _parent, _req) in enumerate(self.spans):
            if any(t0 <= s <= t1 for t0, t1 in windows):
                out[name] = out.get(name, 0.0) + (e - s) - child_cover[i]
        return out

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _p, _r in self.spans if n == name]

    def dump(self, path: str) -> None:
        """Write spans as tab-separated rows: idx, name, start, end, parent, req."""
        with open(path, "w") as fh:
            fh.write("idx\tname\tstart\tend\tparent\treq\n")
            for i, (name, s, e, parent, req) in enumerate(self.spans):
                fh.write(f"{i}\t{name}\t{s:.6f}\t{e:.6f}\t{'' if parent is None else parent}\t{req or ''}\n")


def recorder_cost_us(n: int = 20_000) -> float:
    """Measured cost of recording one span, in microseconds."""
    tr = Tracer(True)
    t = time.perf_counter()
    for _ in range(n):
        with tr.span("probe", "r"):
            pass
    return (time.perf_counter() - t) / n * 1e6


class Bench:
    """Per-process benchmark state: the Spark session, the tracer, the
    job-group ledger and the attempted/failed counters."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # (layer, group id) for every public call, read back after timing
        self._groups: list[tuple[str, str]] = []
        self.peak_rss_mb = 0.0
        self._t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Progress line on stderr: seconds since start, phase name."""
        print(f"[bench {time.perf_counter() - self._t0:7.2f}s] {phase}", file=sys.stderr, flush=True)

    # -- public-call wrapper ------------------------------------------------

    def call(self, layer: str, fn, *args, req: str | None = None, **kw):
        """Run `fn` under its own Spark job group and a span named `layer`."""
        gid = f"bench-{len(self._groups)}"
        self._groups.append((layer, gid))
        self.sc.setJobGroup(gid, f"{layer} {req or ''}".strip())
        try:
            with self.tracer.span(layer, req):
                return fn(*args, **kw)
        finally:
            # jobs the benchmark itself runs between calls stay unattributed
            self.sc.setJobGroup("bench-glue", "benchmark glue")

    # -- correctness ledger ---------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check; a failed check counts as a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def op(self, what: str, fn, *args, **kw):
        """Run one workload operation; an exception counts as a failure and
        returns None so the run goes on and reports it."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception:  # noqa: BLE001 - the run reports, never dies mid-loop
            self.failed += 1
            self.failures.append(what)
            traceback.print_exc(file=sys.stderr)
            return None

    # -- Spark counters -------------------------------------------------------

    def spark_counts(self) -> dict[str, dict[str, int]]:
        """layer -> {jobs, stages, tasks, failed_tasks, calls}, read from the
        status tracker for every job group the benchmark set."""
        st = self.sc.statusTracker()
        out: dict[str, dict[str, int]] = {}
        for layer, gid in self._groups:
            c = out.setdefault(layer, {"calls": 0, "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0})
            c["calls"] += 1
            for jid in st.getJobIdsForGroup(gid):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    sinfo = st.getStageInfo(sid)
                    if sinfo is None:
                        continue  # skipped stage: never submitted
                    c["stages"] += 1
                    c["tasks"] += sinfo.numTasks
                    c["failed_tasks"] += sinfo.numFailedTasks
        return out

    # -- memory ---------------------------------------------------------------

    def sample_rss(self) -> None:
        """Fold the process tree's summed peak RSS (VmHWM) into peak_rss_mb."""
        self.peak_rss_mb = max(self.peak_rss_mb, tree_hwm_kb(os.getpid()) / 1024.0)


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for kid in _children(todo.pop()):
            out.append(kid)
            todo.append(kid)
    return out


def tree_hwm_kb(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
