"""Shared plumbing for the workloads: host facts, the run context, the
generator process, progress parsing and percentiles."""

from __future__ import annotations

import contextlib
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from datetime import datetime, timezone

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


_PR_SET_CHILD_SUBREAPER = 36
# How long the children get to end by themselves once asked.
END_GRACE_S = 30.0


def adopt_descendants() -> None:
    """Make this process the parent of every orphaned descendant (Linux
    ``PR_SET_CHILD_SUBREAPER``), so ``end_descendants`` can wait for
    processes whose own parent has died, such as the Python workers of
    an exited JVM."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    """Process ids whose parent is this process, zombies included."""
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # The command name may hold spaces and parentheses; the parent id
        # is the second field after its closing parenthesis.
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def _reap(pids: list[int], deadline: float) -> list[int]:
    """Reap those of ``pids`` that end before ``deadline``; return the
    rest."""
    left = list(pids)
    while left:
        for pid in list(left):
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                done = pid
            if done == pid:
                left.remove(pid)
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    return left


def end_descendants() -> None:
    """End every process this one started, directly or not, and wait
    for each. The JVM is asked first: py4j is closed, then the JVM's
    standard input, on whose end PySpark's gateway exits. Whatever still
    runs after ``END_GRACE_S`` gets SIGTERM, then SIGKILL."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        # Close py4j first, so no finalizer calls into the JVM once it
        # has gone.
        with contextlib.suppress(Exception):
            gateway.shutdown()
        with contextlib.suppress(OSError):
            gateway.proc.stdin.close()
        SparkContext._gateway = None
        SparkContext._jvm = None
    # Orphans are handed to this process as their parents end, so look
    # again until a pass finds no child at all.
    while True:
        pids = _children()
        if not pids:
            return
        left = _reap(pids, time.monotonic() + END_GRACE_S)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            left = _reap(left, time.monotonic() + 5.0)
        for pid in left:
            os.waitpid(pid, 0)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def progress_start_s(p: dict) -> float:
    """Wall-clock start of a micro-batch's trigger, from its progress."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return start.replace(tzinfo=timezone.utc).timestamp()


def progress_end_s(p: dict) -> float:
    """Wall-clock end of a micro-batch: trigger start plus trigger time."""
    return progress_start_s(p) + p["durationMs"]["triggerExecution"] / 1000.0


def query_progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Generator:
    """The load generator (``gen.py``) as a child process."""

    def __init__(self, *args: str) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), *args],
            stdout=subprocess.DEVNULL,
        )

    def wait(self, timeout: float = 120.0) -> None:
        try:
            code = self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.kill()
            raise
        if code != 0:
            raise RuntimeError(f"generator exited with {code}")

    def stop(self, timeout: float = 10.0) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
        self.wait(timeout)

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


class Run:
    """State of one benchmark invocation."""

    def __init__(self, root: str, seed: int, seconds: int, trace: bool) -> None:
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, ".perfbench")
        self.spark = None
        self.queries: dict = {}
        self.setup_s = 0.0
        self.tracer = None
        self.listener = None
        # Phase timings of every set-up, in seconds, by phase name.
        self.setup: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.info: dict = {"nproc": nproc(), "loadavg_start": list(os.getloadavg())}

    def span(self, name: str):
        """A tracer span in a traced run, else a no-op context."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def phase(self, name: str, seconds: float) -> None:
        """Record one set-up's time in phase ``name``."""
        self.setup.setdefault(name, []).append(seconds)

    def stop_spark(self) -> None:
        """Stop every streaming query, then the session."""
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        self.spark = None

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(int(jvm_pid))

    def job_stages(self, query) -> dict[int, int]:
        from tracing import job_stages

        return job_stages(self.spark, str(query.runId))

    def listener_batches(self, run_id: str, batch_ids: list[int]) -> list[dict]:
        """The listener's progress for ``batch_ids`` of run ``run_id``;
        waits for events still on the listener bus."""
        deadline = time.time() + 30
        while True:
            heard = self.listener.by_batch(run_id)
            if all(b in heard for b in batch_ids):
                return [heard[b] for b in batch_ids]
            if time.time() > deadline:
                raise TimeoutError(f"listener missed batches of {run_id}")
            time.sleep(0.05)

    def check(self, label: str, result: dict, operations: int) -> None:
        """Record an output check covering ``operations`` operations."""
        ok = result["mismatched"] == 0 and result["rows"] == result["expected"]
        result = {"label": label, "ok": ok, **result}
        self.checks.append(result)
        if not ok:
            self.failed += operations
            print(f"output check failed: {json.dumps(result)}", file=sys.stderr)
