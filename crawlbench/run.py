#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload, one seed, one JSON result line.

    python3 crawlbench/run.py --workload frontier_smallwaves --seed 1 \\
        --seconds 1 --trace 0

Run from the repository root. The engine runs in this process at
``local[<cores>]`` with a driver heap sized from available RAM; load is
one closed loop (one user-facing call at a time). The first call runs
in a cold JVM, as one spark-submit does; with ``--seconds 1`` it is the
only measured call. ``--trace 0`` prints the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` prints the per-layer metrics and writes
the spans under ``.crawlbench/traces/``. Every measured call's output is
checked against a single-node reference; a call that raises or fails
the check counts in ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
SETUP_REPEATS = 3
# A run that is not done by then is stopped and reported as failed.
DEADLINE_S = 175
# Set in the environment of the process that does the run (see supervise).
SUPERVISED = "CRAWLBENCH_SUPERVISED"

# Work is measured in CPU seconds (this process + the Spark JVM and its
# Python workers): on a shared VM, wall time moves with the CPU time
# other guests take (``steal``); CPU time hardly does. Wall time is a
# per-layer reading and is logged for every call.
E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "urls_per_cpu_s": "1/s",
    "docs_per_cpu_s": "1/s",
    "wave_cpu_s_p50": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "corpus.build_s": "s",
    "env.copy_gbps": "GB/s",
    "env.cpu_steal": "cpu",
    "wall.run_s": "s",
    "wall.urls_per_s": "1/s",
    "wall.wave_s_p50": "s",
    "trace.overhead_s": "s",
    "wave.jobs": "count",
    "wave.stages": "count",
    "wave.driver_s": "s",
    "wave.exec_s": "s",
    "wave.core_busy_ratio": "ratio",
    "wave.shuffle_read_bytes": "bytes",
    "wave.shuffle_write_bytes": "bytes",
    "wave.spill_bytes": "bytes",
    "wave.task_skew": "ratio",
    "snapshots.commit_s": "s",
    "snapshots.barrier_wait_s": "s",
    "snapshots.bytes_written": "bytes",
    "snapshots.files_written": "count",
    "extract.page_us": "us",
    "extract.fast_scan_ratio": "ratio",
    "urls.fast_tier_ratio": "ratio",
    "extract.crossing_ratio": "ratio",
    "warc.fetch_s": "s",
    "warc.extract_s": "s",
    "warc.bytes_read": "bytes",
    "warc.records": "count",
    "warc.kept_ratio": "ratio",
    "politeness.topk_s": "s",
    "ordering.sort_s": "s",
    "seen.bloom_contains_s": "s",
    "seen.bloom_fp_ratio": "ratio",
    "dedup.exact_s": "s",
    "textstats.repetition_s": "s",
    "training.decontaminate_s": "s",
    "tokenizer.bpe_train_s": "s",
    "tokenizer.bpe_encode_s": "s",
    "training.pack_s": "s",
}


def log(msg: str) -> None:
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A quarter of available RAM in whole GiB, between 1 and 2: the
    workloads' working sets are a few hundred MB, and a fixed cap keeps
    the heap (and so peak RSS) the same from run to run on a shared box."""
    with open("/proc/meminfo") as f:
        avail_kb = next(int(l.split()[1]) for l in f if l.startswith("MemAvailable:"))
    return f"{max(1, min(2, avail_kb // (4 << 20)))}g"


def start_session(work: str):
    from basic_common_crawl_pipeline_spark.session import get_spark

    n = cores()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    heap = driver_heap()
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files in the system temp dir, from the launcher or the JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark(
        app_name="crawlbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a heap committed and touched in full at start: peak RSS and
            # the call's CPU time then do not hinge on when the collector
            # grew the heap or first touched its pages
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited (its Python
    workers are its children and go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone; the JVM still has to exit
        traceback.print_exc()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Loop:
    """Closed loop: one user-facing call at a time, each checked."""

    def __init__(self, wl, expected: dict) -> None:
        self.wl = wl
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.calls = 0

    def once(self, traced: bool):
        from crawlbench.checks import compare

        i = self.calls
        self.calls += 1
        self.attempted += 1
        try:
            out = self.wl.call(i, traced)
            bad = compare(self.expected, self.wl.actual(out))
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.wl.discard(i)
            return None
        if bad:
            log(f"call {i}: output differs from the reference in {bad}")
            self.failed += 1
        return out

    def measure(self, seconds: float, modes) -> dict:
        """Calls cycling through ``modes`` (traced flags) until the next
        call would overrun ``seconds``; every mode runs at least once."""
        from crawlbench.tracing import cpu_steal_s

        results: dict = {m: [] for m in modes}
        deadline = time.time() + seconds
        k, last = 0, 0.0
        while True:
            mode = modes[k % len(modes)]
            t0, st0 = time.time(), cpu_steal_s()
            out = self.once(mode)
            last = time.time() - t0
            if out is not None:
                results[mode].append(out)
                log(f"call {self.calls - 1} traced={mode}: run_s={out.run_s:.3f} "
                    f"units={[round(e - s, 2) for s, e in out.unit_spans()]} "
                    f"cpu_s={out.cpu_s:.2f} unit_cpu={[round(c, 2) for c in out.unit_cpu_s()]} "
                    f"cpu_steal={(cpu_steal_s() - st0) / last:.2f}")
            if not mode:
                self.wl.discard(self.calls - 1)
            k += 1
            if k >= len(modes) and time.time() + last > deadline:
                break
        return results


def end_to_end(outs, setup_s: float, rss_mb: float) -> dict:
    from crawlbench.tracing import median

    return {
        "setup_s": setup_s,
        "cpu_s": median(o.cpu_s for o in outs),
        "urls_per_cpu_s": median(o.urls / o.cpu_s for o in outs),
        "docs_per_cpu_s": median(o.docs / o.cpu_s for o in outs),
        "wave_cpu_s_p50": median(c for o in outs for c in o.unit_cpu_s()),
        "peak_rss_mb": rss_mb,
    }


def wall_clock(out) -> dict:
    from crawlbench.tracing import median

    return {
        "wall.run_s": out.run_s,
        "wall.urls_per_s": out.urls / out.run_s,
        "wall.wave_s_p50": median(e - s for s, e in out.unit_spans()),
    }


def traced_layers(spark, wl, tracer, traced_outs, plain_outs) -> dict:
    """Per-layer numbers from the traced calls plus the layer replays."""
    from crawlbench.tracing import StatusStore, median, phase_breakdown

    status = StatusStore(spark)
    stages = status.stages()
    m: dict = {k: 0.0 for k in LAYER_UNITS}
    units, commits, barrier = [], [], []
    for out in traced_outs:
        root = tracer.add("call", out.start, out.end, None, workload=wl.name)
        jobs = status.jobs(out.start)
        done = getattr(out.data.get("store"), "commits", [])
        for w, (lo, hi) in enumerate(out.unit_spans()):
            b = phase_breakdown(status, jobs, stages, lo, hi,
                                exclude=[(c["start"], c["end"]) for c in done])
            units.append(b)
            sid = tracer.add("wave", lo, hi, root, index=w)
            for job, name, s, e in b["job_spans"]:
                tracer.add("spark.job", s, e, sid, job=job, label=name)
            for stage, name, s, e in b["stage_spans"]:
                tracer.add("spark.stage", s, e, sid, stage=stage, label=name)
        for c in done:
            tracer.add("commit", c["start"], c["end"], root, snapshot=c["snapshot"],
                       bytes=c["bytes"], files=c["files"])
            commits.append(c)
        # wave w's end waits for the commit of wave w-1 (snapshot w)
        for w, mark in enumerate(out.marks[1:], start=1):
            prev = next((c for c in done if c["snapshot"] == w), None)
            if prev is not None:
                barrier.append(max(0.0, prev["end"] - mark))
    for key in ("jobs", "stages", "driver_s", "exec_s", "core_busy_ratio",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew"):
        m[f"wave.{key}"] = median(u[key] for u in units)
    if commits:
        n = len(traced_outs)
        m["snapshots.commit_s"] = median(c["end"] - c["start"] for c in commits)
        m["snapshots.barrier_wait_s"] = sum(barrier) / n
        m["snapshots.bytes_written"] = sum(c["bytes"] for c in commits) / n
        m["snapshots.files_written"] = sum(c["files"] for c in commits) / n
    # in CPU seconds: the wall-time difference of two calls is mostly steal
    m["trace.overhead_s"] = median(o.cpu_s for o in traced_outs) - median(o.cpu_s for o in plain_outs)
    with tracer.span("replays") as parent:
        m.update(wl.replays(spark, status, tracer, parent, traced_outs[-1]))
    return m


def run(args) -> dict:
    from crawlbench import tracing
    from crawlbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".crawlbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tracer = tracing.Tracer()
    gbps = tracing.copy_gbps(min(4, cores()))
    log(f"env.copy_gbps={gbps:.2f}")

    # set-up is measured in CPU seconds too: this process's own CPU before
    # the JVM exists, then the whole tree
    own = os.times()
    t0 = time.time()
    spark = start_session(work)
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        session_s = wl.cpu() - own.user - own.system
        tracer.add("setup.session", t0, time.time(), cpu_s=session_s)
        log(f"session wall={time.time() - t0:.2f}")
        builds = []
        for k in range(SETUP_REPEATS):
            d = os.path.join(work, f"input-{k}")
            t, c = time.time(), wl.cpu()
            wl.build(d)
            builds.append(wl.cpu() - c)
            tracer.add("setup.build", t, time.time(), repeat=k, cpu_s=builds[-1])
            if k:
                shutil.rmtree(os.path.join(work, f"input-{k - 1}"))
        t, c = time.time(), wl.cpu()
        wl.load()
        load_s = wl.cpu() - c
        tracer.add("setup.load", t, time.time(), cpu_s=load_s)
        t = time.time()
        expected = wl.expected()
        ref_s = time.time() - t
        tracer.add("reference", t, t + ref_s)

        setup_s = session_s + tracing.median(builds) + load_s
        log(f"setup cpu: session={session_s:.2f} builds={[round(b, 2) for b in builds]} "
            f"load={load_s:.2f}; reference wall={ref_s:.2f}")
        loop = Loop(wl, expected)

        if args.trace:
            # the first, cold call (checked like every call) gives the
            # wall-clock readings; traced and untraced calls are compared
            # after one more call, when JIT warm-up no longer dominates
            # the difference between consecutive calls
            with tracer.span("cold_call"):
                cold = loop.once(False)
            wl.discard(loop.calls - 1)
            with tracer.span("warm_up"):
                loop.once(False)
            wl.discard(loop.calls - 1)
            t, st = time.time(), tracing.cpu_steal_s()
            res = loop.measure(args.seconds, [False, True])
            steal = (tracing.cpu_steal_s() - st) / (time.time() - t)
            metrics = traced_layers(spark, wl, tracer, res[True], res[False])
            metrics["env.cpu_steal"] = steal
            if cold is not None:
                metrics.update(wall_clock(cold))
            metrics["session.start_s"] = session_s
            metrics["corpus.build_s"] = tracing.median(builds)
            metrics["env.copy_gbps"] = gbps
            units = LAYER_UNITS
            tracer.write(os.path.join(
                ROOT, ".crawlbench", "traces", f"{args.workload}-seed{args.seed}-{tracer.run_id}.json"
            ))
        else:
            res = loop.measure(args.seconds, [False])
            rss, parts = tracing.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
            log(f"peak_rss_mb={rss:.1f} per process={[round(p) for p in parts]}")
            metrics = end_to_end(res[False], setup_s, rss)
            units = E2E_UNITS
        if not any(res.values()):
            raise RuntimeError("no call completed")
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    log(f"env.copy_gbps={gbps:.2f} attempted={loop.attempted} failed={loop.failed} "
        f"failed_ratio={loop.failed / loop.attempted:.3f}")
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def parse_args(argv=None):
    from crawlbench.workloads import SIZES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the benchmark's own smoke tests")
    return p.parse_args(argv)


def _set_child_subreaper() -> None:
    """Make processes orphaned below this one (a Python worker daemon that
    outlives the JVM, a multiprocessing helper) its children, so that it
    can wait for them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants() -> list[int]:
    from crawlbench.tracing import _children

    todo, out = _children(os.getpid()), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _reap_all(grace: float) -> None:
    """Wait until no process is left below this one; kill whatever is
    still alive ``grace`` seconds from now."""
    deadline = time.time() + grace
    reaped = 0
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                if reaped:
                    log(f"waited for {reaped} process(es) left after the run")
                return
            if pid == 0:
                break
            reaped += 1
        if time.time() > deadline:
            for pid in _descendants():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Do the run in a child process and return once every process it
    started has ended: on success, on failure, past ``DEADLINE_S`` and on
    SIGTERM/SIGHUP/SIGINT alike."""
    _set_child_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, frame: sys.exit(128 + signum))
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env=dict(os.environ, **{SUPERVISED: "1"}))
    code = 1
    try:
        code = child.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        log(f"run not done after {DEADLINE_S} s; stopping it")
    finally:
        if child.poll() is None:
            for pid in _descendants():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        _reap_all(grace=10)
    return code


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import basic_common_crawl_pipeline_spark  # noqa: F401
    except ImportError:
        log(f"no crawl engine package under {ROOT}; run from the repository root")
        return 2
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not os.environ.get(SUPERVISED):
        return supervise(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
