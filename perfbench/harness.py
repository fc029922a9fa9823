"""Workload-independent pieces of the benchmark: operation and failure
accounting, the tail-percentile rule, the process-tree RSS sampler,
job-group spans, provenance, the Spark session sized to the host, and
the helper process that generates inputs and computes oracles.

Nothing here imports pyspark at module import time, so the helpers can be
tested without a JVM.
"""

from __future__ import annotations

import contextlib
import os
import pickle
import platform
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RSS_INTERVAL_S = 0.25
STOP_TIMEOUT_S = 60


# ---------------------------------------------------------------------------
# operations, failures, percentiles
# ---------------------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``. With ``n`` samples that is the
    value at sorted index ``n - 11`` (ten larger samples follow it); its
    percentile is ``(n - 10) / n``. Below eleven samples no percentile
    qualifies and the maximum is returned with percentile 100.
    """
    if not samples:
        raise ValueError("tail of no samples")
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


@dataclass
class OpResult:
    name: str
    wall_s: float
    ok: bool
    error: str | None = None
    value: object = None


@dataclass
class Recorder:
    """Counts operations and failures. An operation fails when it raises
    or its output check fails; either way the run goes on."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def op(self, name: str, fn, check=None) -> OpResult:
        """Run ``fn()``; ``check(result)`` returns an error string or None.
        The wall time covers ``fn`` only, never the check."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            value = fn()
        except Exception:  # boundary: one failed operation must not end the run
            wall = time.perf_counter() - t0
            self._fail(name, traceback.format_exc(limit=3))
            return OpResult(name, wall, False, self.errors[-1])
        wall = time.perf_counter() - t0
        try:
            problem = check(value) if check is not None else None
        except Exception:  # a crashing check is a failed output check
            problem = traceback.format_exc(limit=3)
        if problem:
            self._fail(name, problem)
            return OpResult(name, wall, False, problem, value)
        return OpResult(name, wall, True, None, value)

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# peak memory of the process tree
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pids: list[int]) -> int:
    """Resident memory of ``pids`` as the sum of their proportional set
    sizes: pages that forked Python workers share with their parent
    count once, where summing RSS would count them in every worker."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited, or not ours to read
            continue
    return total


def spark_pids() -> list[int]:
    """The Spark launcher of this process, the JVM it started and the
    JVM's Python workers; empty while no gateway runs."""
    pyspark = sys.modules.get("pyspark")
    gw = pyspark.SparkContext._gateway if pyspark is not None else None
    proc = getattr(gw, "proc", None)
    return [] if proc is None else [proc.pid, *descendants(proc.pid)]


class RssSampler:
    """Samples the resident memory of the program on a background thread
    and keeps the peak: this (driver) process, the JVM and its Python
    workers. The benchmark's helper process is not part of it."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes([pid, *spark_pids()]))
            self._stop.wait(RSS_INTERVAL_S)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class Helper:
    """One Python child process for the benchmark's own work: input
    generation, oracles and reading outputs back. Its memory and
    libraries stay out of the sampled program; calls block until done.

    Calls and results travel as pickles over the child's stdin and a
    duplicate of its stdout; anything the called code prints goes to
    stderr. Plain ``subprocess`` rather than ``multiprocessing``, whose
    resource tracker would outlive the benchmark."""

    def __init__(self):
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
        self._proc = subprocess.Popen(
            [sys.executable, "-c", "from perfbench.harness import serve; serve()"],
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        self(int)  # start it before anything is timed

    def __call__(self, fn, *args):
        pickle.dump((fn, args), self._proc.stdin)
        self._proc.stdin.flush()
        try:
            ok, value = pickle.load(self._proc.stdout)
        except EOFError:
            raise RuntimeError(f"helper process exited with {self._proc.wait()}") from None
        if not ok:
            raise RuntimeError(f"in helper process:\n{value}")
        return value

    def __enter__(self) -> "Helper":
        return self

    def __exit__(self, *exc) -> None:
        self._proc.stdin.close()  # the child's loop ends at end of input
        try:
            self._proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()


def serve() -> None:
    """The helper process's loop: read ``(fn, args)``, answer
    ``(True, fn(*args))`` or ``(False, traceback)``, until end of input."""
    results = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # prints of the called code must not corrupt the results
    sys.stdout = sys.stderr
    while True:
        try:
            fn, args = pickle.load(sys.stdin.buffer)
        except EOFError:
            return
        try:
            answer = (True, fn(*args))
        except Exception:  # boundary: the caller re-raises it
            answer = (False, traceback.format_exc())
        pickle.dump(answer, results)
        results.flush()


# ---------------------------------------------------------------------------
# spans: job groups around public calls
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    group: str
    start: float  # epoch seconds
    end: float


class Spans:
    """In-memory spans. Each span sets a Spark job group for its
    duration, so the event log ties every job to the call that ran it."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []

    def run(self, name: str, fn):
        group = f"{name}#{len(self.spans) + 1}"
        self.sc.setJobGroup(group, name)
        start = time.time()
        try:
            return fn()
        finally:
            self.spans.append(Span(name, group, start, time.time()))
            self.sc._jsc.clearJobGroup()


# ---------------------------------------------------------------------------
# host, provenance, session
# ---------------------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Task slots of the local session: one core is left to the driver
    (its Python and JVM threads plan every job), so that the run does
    not have more busy threads than the host has cores."""
    return max(1, nproc() - 1)


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of RAM, between 1 and 4 GiB: the engine's 16g/32g
    defaults overcommit a small host."""
    gib = ram_bytes() // 2**30
    return f"{max(1, min(4, gib // 4))}g"


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():  # e.g. an exported checkout
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def provenance(seed: int, workload: str, spark_version: str) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "commit": git_commit(),
        "nproc": nproc(),
        "cores": spark_cores(),
        "ram_gb": round(ram_bytes() / 2**30, 1),
        "driver_memory": driver_memory(),
        "spark": spark_version,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


@contextlib.contextmanager
def _environ(**values: str):
    """Set environment variables for the duration of the block."""
    saved = {k: os.environ.get(k) for k in values}
    os.environ.update(values)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def start_spark(work: Path, eventlog_dir: Path | None):
    """Local session on ``spark_cores()`` task slots, temp files under
    ``work``; with ``eventlog_dir`` the uncompressed event log is on.
    The JVM, and the Python workers it starts, get ``PYTHONPATH`` and the
    temp directories; this process's environment is left as it was."""
    from linkgraph.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir is not None:
        eventlog_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(eventlog_dir),
                "spark.eventLog.compress": "false",
            }
        )
    n = spark_cores()
    pythonpath = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # the JVM starts inside get_spark and keeps the environment it saw
    with _environ(PYTHONPATH=pythonpath, SPARK_LOCAL_DIRS=str(tmp), TMPDIR=str(tmp)):
        return get_spark(
            "linkgraph-perfbench", cores=n, shuffle_partitions=n,
            driver_memory=driver_memory(), extra_conf=conf,
        )


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext

    pids = spark_pids()
    # after a failure or a SIGTERM the JVM may be gone already; its
    # processes must still be waited for
    with contextlib.suppress(Exception):
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while alive(pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive(pids):
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def alive(pids: list[int]) -> list[int]:
    """The processes of ``pids`` that still run (zombies count as gone)."""
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.rindex(b")") + 2 :].split()[0] != b"Z":
            out.append(p)
    return out
