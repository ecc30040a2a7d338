"""Spans, Spark status-store readings and process readings, all taken
from outside the engine.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory
  and writes them once, when the benchmark ends.
- ``StatusStore`` reads job and stage data from Spark's AppStatusStore
  (``sc._jsc.sc().statusStore()``), which stays live with the UI off.
- ``TracingStore`` is a ``SnapshotStore`` whose commits are timed and
  measured on disk; it is passed to ``run_crawl`` as ``store=``.
- ``peak_rss_mb`` sums VmHWM of the Spark JVM and its Python workers.
- ``cpu_steal_s`` reads the CPU time stolen by other guests.
- ``copy_gbps`` is the memory-bandwidth probe.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time
import uuid

from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            span_id: int | None = None, **attrs) -> int:
        sid = span_id if span_id is not None else next(self._ids)
        self.spans.append(
            {"run": self.run_id, "id": sid, "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """``with tracer.span(...) as sid``: children can name ``sid`` as
        their parent before this span ends."""
        sid, start = next(self._ids), time.time()
        try:
            yield sid
        finally:
            self.add(name, start, time.time(), parent, span_id=sid, **attrs)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StatusStore:
    """Job and stage records of the running application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self.cores = sc.defaultParallelism

    def jobs(self, since: float) -> list[dict]:
        out = []
        for j in _seq(self._store.jobsList(None)):
            sub = _opt_ms(j.submissionTime())
            if sub is None or sub < since:
                continue
            out.append(
                {"job": j.jobId(), "name": j.name(), "start": sub,
                 "end": _opt_ms(j.completionTime()) or sub,
                 "stages": [int(s) for s in _seq(j.stageIds())]}
            )
        return sorted(out, key=lambda j: j["job"])

    def stages(self) -> dict[int, dict]:
        st = self._store
        rows = st.stageList(
            None,
            getattr(st, "stageList$default$2")(),
            getattr(st, "stageList$default$3")(),
            getattr(st, "stageList$default$4")(),
            getattr(st, "stageList$default$5")(),
        )
        out: dict[int, dict] = {}
        for s in _seq(rows):
            if s.status().toString() != "COMPLETE":
                continue
            start = _opt_ms(s.firstTaskLaunchedTime()) or _opt_ms(s.submissionTime())
            out[s.stageId()] = {
                "stage": s.stageId(), "attempt": s.attemptId(), "name": s.name(),
                "tasks": s.numTasks(), "start": start,
                "end": _opt_ms(s.completionTime()) or start,
                "run_ms": s.executorRunTime(),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        return out

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        gw = self._sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage["stage"], stage["attempt"], q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def phase_breakdown(status: StatusStore, jobs: list[dict], stages: dict, lo: float, hi: float,
                    exclude: list[tuple[float, float]] = ()) -> dict:
    """Layer numbers of one progress unit (a wave or a batch): the jobs
    submitted in [lo, hi), less the parquet writes that start inside an
    ``exclude`` interval (a concurrent commit's own jobs)."""
    mine = [
        j for j in jobs
        if lo <= j["start"] < hi
        and not (
            j["name"].startswith("parquet at")
            and any(s <= j["start"] <= e for s, e in exclude)
        )
    ]
    st = [stages[s] for j in mine for s in j["stages"] if s in stages]
    exec_s = covered_seconds([(j["start"], j["end"]) for j in mine], lo, hi)
    longest = max(st, key=lambda s: s["end"] - s["start"], default=None)
    run_s = sum(s["run_ms"] for s in st) / 1000.0
    return {
        "wall_s": hi - lo,
        "jobs": len(mine),
        "stages": len(st),
        "exec_s": exec_s,
        "driver_s": (hi - lo) - exec_s,
        "core_busy_ratio": run_s / (exec_s * status.cores) if exec_s > 0 else 0.0,
        "shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
        "shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
        "spill_bytes": sum(s["spill"] for s in st),
        "task_skew": status.task_skew(longest) if longest is not None else 1.0,
        "job_spans": [(j["job"], j["name"], j["start"], j["end"]) for j in mine],
        "stage_spans": [(s["stage"], s["name"], s["start"], s["end"]) for s in st],
    }


# ---------------------------------------------------------------------------
# snapshot store with timed commits
# ---------------------------------------------------------------------------


class TracingStore(SnapshotStore):
    """Records (snapshot, start, end, bytes, files) for every commit."""

    def __init__(self, root: str) -> None:
        super().__init__(root)
        self.commits: list[dict] = []

    def commit(self, snapshot, tables, extra=None, append_tables=None):
        start = time.time()
        manifest = super().commit(snapshot, tables, extra=extra, append_tables=append_tables)
        end = time.time()
        n_bytes = n_files = 0
        for name in list(tables) + list(append_tables or {}):
            d = os.path.join(self.root, name, f"snap-{snapshot}")
            for entry in os.scandir(d):
                if entry.name.endswith(".parquet"):
                    n_files += 1
                    n_bytes += entry.stat().st_size
        self.commits.append(
            {"snapshot": snapshot, "start": start, "end": end,
             "bytes": n_bytes, "files": n_files}
        )
        return manifest


# ---------------------------------------------------------------------------
# process and machine readings
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> tuple[float, list[float]]:
    """Σ VmHWM over the JVM and every process below it (the Python
    daemon and its forked workers), and the JVM's and each process's own
    share."""
    todo, parts = [jvm_pid], []
    while todo:
        pid = todo.pop()
        parts.append(_vm_hwm_kb(pid) / 1024.0)
        todo.extend(_children(pid))
    return sum(parts), parts


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return 0
    return sum(int(x) for x in fields[11:15])


class CpuClock:
    """CPU seconds used so far by this process and by the Spark JVM with
    every process below it. Unlike wall time it does not count the time
    other guests of the machine take from this one."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        todo, ticks = [self.jvm_pid], 0
        while todo:
            pid = todo.pop()
            ticks += _cpu_ticks(pid)
            todo.extend(_children(pid))
        own = os.times()
        return ticks / self.tick + own.user + own.system


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests so far, summed
    over all CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _copy_worker(args) -> float:
    import numpy as np

    mb, reps = args
    src = np.ones(mb * (1 << 20) // 8)
    dst = np.empty_like(src)
    np.copyto(dst, src)
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t)
    return 2 * src.nbytes / best / 1e9


def copy_gbps(procs: int, mb: int = 64, reps: int = 5) -> float:
    """Aggregate numpy copy bandwidth (read + write bytes) over
    ``procs`` spawned processes, each copying ``mb`` MiB."""
    import multiprocessing

    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(procs)
    try:
        rates = pool.map(_copy_worker, [(mb, reps)] * procs)
    finally:
        pool.close()
        pool.join()
    return sum(rates)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
