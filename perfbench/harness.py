"""Process-level plumbing shared by the workloads: the run's private work
directory, the pinned Spark environment, sampling statistics, process-tree
memory, and teardown that waits for every child process to end."""

from __future__ import annotations

import os
import shlex
import shutil
import signal
import time
import uuid
from dataclasses import dataclass, field

WORK_ROOT = ".perfbench_work"  # under the checkout; removed at the end of each run
OUT_ROOT = ".perfbench_out"  # trace files written at exit


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-linux
        return os.cpu_count() or 1


class WorkDir:
    """A fresh directory per run under the checkout. Temp files of Python,
    the JVM and Spark's block manager are all pointed inside it, so the run
    writes nowhere else and leaves nothing behind."""

    def __init__(self, checkout: str, trace: bool):
        self.root = os.path.join(checkout, WORK_ROOT, uuid.uuid4().hex[:12])
        self.tmp = self.sub("tmp")
        local = self.sub("spark-local")
        os.environ["TMPDIR"] = self.tmp
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        cpus = str(cpu_count())
        os.environ["SPARK_GRAFT_CPUS"] = cpus
        os.environ["SPARK_LOCAL_DIRS"] = local
        # the machine is shared: a 2 GB driver heap is ample for these inputs
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.sub("warehouse"),
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if trace:
            # every job of the run must stay queryable by job group
            confs["spark.ui.retainedJobs"] = "100000"
            confs["spark.ui.retainedStages"] = "100000"
        args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"

    def sub(self, *parts: str) -> str:
        path = os.path.join(self.root, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def fresh(self, name: str) -> str:
        """A new, empty directory (one per set-up repetition)."""
        return self.sub(f"{name}-{uuid.uuid4().hex[:8]}")

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_session():
    """(spark, seconds) — the engine's own session factory, timed."""
    t0 = time.perf_counter()
    from spark_deal_observer_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, frontier = [], [pid or os.getpid()]
    while frontier:
        for c in kids.get(frontier.pop(), ()):
            out.append(c)
            frontier.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every live
    descendant: the driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, close the gateway JVM and wait until every descendant
    process has exited (killing stragglers after `timeout_s`)."""
    procs = descendants()
    gateway = getattr(spark.sparkContext, "_gateway", None)
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=timeout_s)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout_s
        alive = [p for p in procs if _alive(p)]
        while alive and time.monotonic() < deadline:
            time.sleep(0.05)
            alive = [p for p in alive if _alive(p)]
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for p in alive:
            while _alive(p):
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # our own exited child: reap it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            return False
    return state != "Z"


def pct(values: list[float], q: float) -> float:
    """The q-th percentile (0-100) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    latency_ms: list[float]  # samples of the workload's unit of work
    items: int  # work completed in `busy_s`
    busy_s: float
    setup_reps_s: list[float]  # repeated set-up (fresh dirs, inputs, preload)
    warmup_s: float  # once-per-process warm-up
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    named: dict[str, tuple[float, str, int]] = field(default_factory=dict)  # workload metric → (value, unit, n)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        self.attempted += 1
        self.failed += 0 if ok else 1
        return ok
