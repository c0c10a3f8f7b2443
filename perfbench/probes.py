"""Measurement from outside the engine.

Nothing here changes a file of the package.  Layers are timed and counted
by wrapping the package's public functions at their import sites; Spark
counters are read only through public APIs (``statusTracker``,
accumulators, ``StreamingQueryListener``); host figures come from
``/proc``.
"""

from __future__ import annotations

import functools
import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK") or 100
EXT_CORES_SUSPECT = 2.0  # other tenants busy on more than 2 cores: pass is flagged


# ------------------------------------------------------------ host / load

def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu jiffies incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2 :].split()
        # fields 4 and 14-17 of proc(5): ppid, utime stime cutime cstime
        out[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def descendants(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _host_busy_jiffies() -> int:
    """Non-idle jiffies over all host CPUs (guest time is already in user)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals) - vals[3] - vals[4]


def tree_cpu_s() -> float:
    """CPU seconds used by this process tree so far (live processes plus
    the children they have reaped)."""
    t = proc_table()
    return sum(t[p][1] for p in descendants(t, os.getpid()) if p in t) / _HZ


class LoadMeter:
    """External CPU during a window: host busy time minus this process
    tree's own, in cores; ``own_cpu_s`` is the tree's CPU time in it."""

    def begin(self) -> None:
        self._t = time.perf_counter()
        self._host = _host_busy_jiffies()
        self._own = tree_cpu_s()

    def end(self) -> float:
        self.own_cpu_s = tree_cpu_s() - self._own
        host = (_host_busy_jiffies() - self._host) / _HZ
        dt = max(time.perf_counter() - self._t, 1e-3)
        return max(0.0, (host - self.own_cpu_s) / dt)


def tree_peak_rss() -> int:
    """Sum of the kernel's resident-set high-water marks (VmHWM) over this
    process tree: driver JVM and Python workers, no sampling needed."""
    total = 0
    for pid in descendants(proc_table(), os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(x.split()[1]) for x in f if x.startswith("VmHWM:")) * 1024
        except (OSError, StopIteration):
            pass
    return total


def tree_size(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                n_bytes += os.path.getsize(os.path.join(d, f))
                n_files += 1
            except OSError:
                pass
    return n_bytes, n_files


# ------------------------------------------------------------ layer spans

class Tracer:
    """Counts and times calls into wrapped package functions.

    With ``spans`` on, every call also leaves a (name, start, end, parent)
    record in memory; ``eager`` (traced runs only) additionally executes
    each returned DataFrame through the noop sink inside its span, so a
    lazy layer's span carries the execution time of the plan up to and
    including that layer (``exec_s``)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.calls: dict[str, int] = {}
        self.spans_on = False
        self.eager = False
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn, eager: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if eager and tracer.eager and hasattr(out, "write"):
                    t = time.perf_counter()
                    out.write.mode("overwrite").format("noop").save()
                    sp.record["exec_s"] = time.perf_counter() - t
                return out

        return wrapper

    def patch(self, modules: list, attr: str, name: str, eager: bool = False) -> None:
        """Replace ``attr`` in every module that binds it (the defining
        module and each ``from ... import`` site)."""
        for mod in modules:
            if hasattr(mod, attr):
                setattr(mod, attr, self.wrap(name, getattr(mod, attr), eager))


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.record: dict = {}

    def __enter__(self):
        tr = self.tracer
        tr.calls[self.name] = tr.calls.get(self.name, 0) + 1
        self.start = time.perf_counter()
        if tr.spans_on:
            self.record = {
                "id": len(tr.spans),
                "name": self.name,
                "start": self.start - tr._t0,
                "parent": tr._stack[-1] if tr._stack else None,
            }
            tr.spans.append(self.record)
            tr._stack.append(self.record["id"])
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.start
        tr = self.tracer
        if tr.spans_on:
            tr._stack.pop()
            self.record["end"] = self.record["start"] + self.elapsed
        return False


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-name self time: span duration minus its direct children."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# ------------------------------------------------------- Spark counters

class StreamListener:
    """StreamingQueryListener that keeps run ids and per-batch progress."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.started: list[str] = []
        self.terminated: list[str] = []
        self.progress: list[dict] = []
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                ops = list(p.stateOperators or [])
                with outer._lock:
                    outer.progress.append({
                        "run": str(p.runId),
                        "add_batch_ms": (p.durationMs or {}).get("addBatch", 0),
                        "commit_ms": sum(o.commitTimeMs for o in ops),
                        "rows": sum(o.numRowsTotal for o in ops),
                        "mem": sum(o.memoryUsedBytes for o in ops),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated.append(str(event.runId))

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def mark(self) -> tuple[int, int]:
        with self._lock:
            return len(self.started), len(self.progress)

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until every started query's terminal event has arrived
        (events reach Python asynchronously, in bus order)."""
        end = time.time() + timeout_s
        while time.time() < end:
            with self._lock:
                if set(self.started) <= set(self.terminated):
                    return
            time.sleep(0.02)

    def since(self, mark: tuple[int, int]) -> tuple[list[str], dict]:
        with self._lock:
            runs = self.started[mark[0] :]
            prog = self.progress[mark[1] :]
        last: dict[str, dict] = {}
        for p in prog:
            last[p["run"]] = p
        return runs, {
            "streaming.batches": len(prog),
            "streaming.add_batch_ms": float(sum(p["add_batch_ms"] for p in prog)),
            "streaming.state_commit_ms": float(sum(p["commit_ms"] for p in prog)),
            "streaming.state_rows": sum(p["rows"] for p in last.values()),
            "streaming.state_mem_mb": sum(p["mem"] for p in last.values()) / 1e6,
        }


def scheduler_counts(sc, groups: list[str], timeout_s: float = 10.0) -> dict[str, int]:
    """Jobs, executed stages and completed tasks of the given job groups
    (one per benchmark step, plus each streaming query's run id), read
    from ``statusTracker`` once the listener bus has caught up."""
    st = sc.statusTracker()
    end = time.time() + timeout_s
    while (st.getActiveJobsIds() or st.getActiveStageIds()) and time.time() < end:
        time.sleep(0.02)
    jobs: set[int] = set()
    for g in groups:
        jobs.update(st.getJobIdsForGroup(g))
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks}
