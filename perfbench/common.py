"""Shared plumbing: the run's directories and pinned environment, the
Spark process handle, the ending of child processes, timing statistics and
resource readings."""

from __future__ import annotations

import ctypes
import json
import os
import signal
import subprocess
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "3g"  # the package default (16g) exceeds a 15 GB machine


class BenchError(RuntimeError):
    """The benchmark could not produce a result."""


def pin_env(run_dir: str) -> None:
    """Environment for this process and every child (Spark, its Python
    workers, shard workers): cores, driver memory, scratch dirs inside the
    checkout, and an import path that reaches the package."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update(
        # every JVM, spark-submit's launcher included: no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
    )


class SparkProc:
    """A child process running ``perfbench.sparkside``; see its docstring."""

    def __init__(self, run_dir: str, event_log: str | None = None):
        self.log_path = os.path.join(run_dir, "spark.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.sparkside", *([event_log] if event_log else [])],
            cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, start_new_session=True,
        )
        self._reply()  # the session is up

    def _reply(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise BenchError(f"Spark process exited; see {self.log_path}:\n{self._tail()}")
        return json.loads(line)

    def _tail(self) -> str:
        self._log.flush()
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-30:])

    def call(self, op: str, **kw) -> dict:
        """Run one op and return its reply; a program error in the op
        raises BenchError."""
        self.proc.stdin.write(json.dumps({"op": op, **kw}) + "\n")
        self.proc.stdin.flush()
        reply = self._reply()
        if not reply["ok"]:
            raise BenchError(f"{op} failed:\n{reply['error']}")
        return reply

    def stop(self) -> None:
        """Stop Spark and wait for the whole process group to end."""
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(json.dumps({"op": "stop"}) + "\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            pass
        finally:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait()
            self._log.close()


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that
    processes that outlive their parent stay reachable by
    ``end_descendants``: Spark's JVM, and the PySpark daemon, which moves
    itself into a process group of its own."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # ended meanwhile
            continue
        if ppid == me:
            out.append(int(name))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this one started, directly or through others,
    and wait until each has ended. multiprocessing's resource tracker is
    closed the way it expects; anything else still running gets SIGTERM,
    then SIGKILL after ``grace_s``. Needs ``adopt_orphans`` first."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        kids = _children()
        if not kids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def workers_cpu_ns(pids) -> int:
    """On-CPU time of processes ``pids``, all threads, from schedstat (time
    spent runnable but not running is not in it)."""
    total = 0
    for pid in pids:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                    total += int(f.read().split()[0])
            except FileNotFoundError:  # the thread ended meanwhile
                pass
    return total


REFERENCE_MS = 2.0  # the yardstick's on-CPU ms on an uncontended core of a 4-vCPU x86 VM
REFERENCE_EVERY = 25  # requests per yardstick reading
_YARD_A = np.arange(0, 200_000, 3)
_YARD_B = np.arange(0, 200_000, 5)


def yardstick_ms() -> float:
    """On-CPU ms of this thread for one fixed piece of work of the kind a
    request does (dict updates in a Python loop, a numpy sorted-set
    intersection). It reads the speed of the core at that moment, which on
    a shared host moves with the neighbours' load by tens of percent."""
    c0 = time.thread_time_ns()
    d: dict[int, int] = {}
    for i in range(3000):
        d[i % 97] = d.get(i % 97, 0) + i
    np.intersect1d(_YARD_A, _YARD_B, assume_unique=True)
    return (time.thread_time_ns() - c0) / 1e6


def core_scale(readings) -> float:
    """Factor from on-CPU time measured in this run to on-CPU time on a
    core where the yardstick takes ``REFERENCE_MS``."""
    return REFERENCE_MS / float(np.median(readings))


def scaled_open(open_fn, cpu_ns) -> tuple:
    """``open_fn()``'s result and the on-CPU seconds it took by ``cpu_ns()``
    (called before and after), scaled to the reference core by yardstick
    readings taken just before and just after it: an open is one long
    request, and the core's speed drifts within seconds."""
    readings = [yardstick_ms() for _ in range(5)]
    c0 = cpu_ns()
    out = open_fn()
    c1 = cpu_ns()
    readings += [yardstick_ms() for _ in range(5)]
    return out, (c1 - c0) / 1e9 * core_scale(readings)


class Meter:
    """Times one request: wall-clock ms, and on-CPU ms of this process plus
    the given worker processes. Given a list ``yardstick``, it appends a
    ``yardstick_ms`` reading to it every ``REFERENCE_EVERY`` requests,
    outside the timed region."""

    def __init__(self, worker_pids=(), yardstick: list | None = None):
        self.pids = list(worker_pids)
        self.yardstick = yardstick
        self.calls = 0

    def call(self, fn, *args, **kwargs):
        """(result or None if it raised, wall ms, cpu ms)."""
        if self.yardstick is not None and self.calls % REFERENCE_EVERY == 0:
            self.yardstick.append(yardstick_ms())
        self.calls += 1
        w0 = workers_cpu_ns(self.pids)
        c0, t0 = time.process_time_ns(), time.perf_counter_ns()
        try:
            out = fn(*args, **kwargs)
        except Exception:  # a failed request is counted, not fatal
            out = None
        t1, c1 = time.perf_counter_ns(), time.process_time_ns()
        w1 = workers_cpu_ns(self.pids)
        return out, (t1 - t0) / 1e6, (c1 - c0 + w1 - w0) / 1e6


def latency_metrics(records, scale: float) -> tuple[dict, dict]:
    """Request records ``(..., wall_ms, cpu_ms)`` -> (on-CPU metrics scaled
    to the reference core by ``scale``, which the benchmark gates on, and
    the figures as measured, which it prints)."""
    wall = [r[-2] for r in records]
    cpu = [r[-1] for r in records]
    return (
        {
            "query_cpu_p50_ms": (pct(cpu, 50) * scale, "ms"),
            "query_cpu_p99_ms": (pct(cpu, 99) * scale, "ms"),
            "cpu_ms_per_query": (sum(cpu) / len(cpu) * scale, "ms"),
        },
        {
            "qps": (len(wall) / (sum(wall) / 1000.0), "req/s"),
            "query_p50_ms": (pct(wall, 50), "ms"),
            "query_p99_ms": (pct(wall, 99), "ms"),
            "measured_cpu_p50_ms": (pct(cpu, 50), "ms"),
            "measured_cpu_p99_ms": (pct(cpu, 99), "ms"),
            "core_scale": (scale, "ratio"),
        },
    )


def pct(values_ms, q: float) -> float:
    return float(np.percentile(np.asarray(values_ms, dtype=np.float64), q))


def hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def text_bytes(texts) -> int:
    return int(sum(len(t.encode("utf-8")) for t in texts))


def new_run_dir() -> str:
    path = os.path.join(WORK, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(path)
    return path
