"""Run-level plumbing: the Spark session, operation accounting, resident
memory sampling, driver-log capture and timing statistics."""

from __future__ import annotations

import math
import os
import re
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path


def task_slots() -> int:
    return max(1, min(4, os.cpu_count() or 1))


def start_spark(run_dir: Path, event_log: Path | None):
    """local[<=4] session whose local dirs, warehouse and temp files stay
    inside the run directory. ``event_log``: directory for Spark's event
    log (traced runs only)."""
    from pyspark.sql import SparkSession

    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    slots = task_slots()
    b = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # a fixed-size heap: resident memory then does not depend on when
        # the collector chose to grow the heap; no perf-data file in /tmp
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms2g -XX:-UsePerfData")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(slots))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", str(event_log))
            .config("spark.eventLog.compress", "false")
            # the log is read for job and task records only: keep the
            # per-query plan strings it also carries short
            .config("spark.sql.ui.explainMode", "simple")
            .config("spark.sql.maxPlanStringLength", "2000")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------
# operation accounting
# ---------------------------------------------------------------------


@dataclass
class Ops:
    """Attempted / failed operation counts. An operation is a timed
    workload call or an untimed correctness gate; one whose Spark action
    raised, or a gate that did not hold, counts as failed."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    gates: dict[str, bool] = field(default_factory=dict)

    def run(self, label: str, fn, *a, **kw):
        """Call ``fn``; returns ``(ok, result)``. Never raises, except on
        interrupts."""
        self.attempted += 1
        try:
            return True, fn(*a, **kw)
        except Exception as e:  # noqa: BLE001 — the benchmark keeps running
            self.failed += 1
            tb = traceback.format_exc(limit=4)
            self.failures.append(f"{label}: {type(e).__name__}: {str(e)[:300]}\n{tb}")
            return False, None

    def gate(self, label: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.gates[label] = bool(ok)
        if not ok:
            self.failed += 1
            self.failures.append(f"gate {label} failed {detail}")

    @property
    def gates_ok(self) -> bool:
        return all(self.gates.values())


# ---------------------------------------------------------------------
# resident memory of the process tree (driver, JVM, Python workers)
# ---------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, resident KB) for every live process."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    out: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        # the command name may hold spaces: fields follow the last ')'
        out[int(d)] = (int(stat.rsplit(")", 1)[1].split()[1]), pages * page_kb)
    return out


def descendants(root_pid: int, table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    out = []
    for pid in table:
        p = pid
        while p and p != root_pid:
            p = table.get(p, (0, 0))[0]
        if p == root_pid and pid != root_pid:
            out.append(pid)
    return out


def _tree_rss_kb(root_pid: int) -> int:
    table = _proc_table()
    return sum(table[p][1] for p in [root_pid, *descendants(root_pid, table)])


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM and the Python workers it forked,
    and wait until every one of them has exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    every ``period`` seconds on a daemon thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# ---------------------------------------------------------------------
# driver log capture: the JVM inherits fd 2, so Spark's own log lines
# (errors logged on the driver without failing the job) land in a file
# the run reports from instead of scrolling away
# ---------------------------------------------------------------------


class Fd2Capture:
    def __init__(self, path: Path):
        self.path = path
        self._saved = None

    def __enter__(self):
        sys.stderr.flush()
        self._saved = os.dup(2)
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        return self

    def __exit__(self, *exc):
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)

    def errors(self) -> list[str]:
        """ERROR-level log records and Python tracebacks, each with the
        first lines of its stack."""
        if not self.path.exists():
            return []
        lines = self.path.read_text(errors="replace").splitlines()
        out: list[str] = []
        head = re.compile(r"^\S.*\b(ERROR|Exception|Error)\b|^Traceback ")
        i = 0
        while i < len(lines):
            if head.search(lines[i]) and " WARN " not in lines[i]:
                block = [lines[i]]
                j = i + 1
                while j < len(lines) and (lines[j][:1] in (" ", "\t") or
                                          lines[j].startswith("Caused by")):
                    if len(block) < 6:
                        block.append(lines[j])
                    j += 1
                out.append("\n".join(block))
                i = j
            else:
                i += 1
        return out


# ---------------------------------------------------------------------
# timing statistics
# ---------------------------------------------------------------------


def tail_percentile(values: list[float]) -> tuple[str, float] | None:
    """The highest of p90/p99/p99.9 that has at least ten samples beyond
    it, with its value (nearest-rank); None when none qualifies."""
    n = len(values)
    best = None
    for p in (90.0, 99.0, 99.9):
        rank = math.ceil(round(p * n / 100, 9))  # nearest rank, 1-based
        if n - rank >= 10:
            best = (f"p{p:g}", sorted(values)[rank - 1])
    return best


def describe(values: list[float]) -> str:
    if not values:
        return "n=0"
    med = statistics.median(values)
    tail = tail_percentile(values)
    tail_s = f", {tail[0]}={tail[1]:.4f}" if tail else ", no tail percentile (<10 beyond p90)"
    return f"p50={med:.4f}{tail_s}, n={len(values)}"


def clock() -> float:
    return time.perf_counter()
