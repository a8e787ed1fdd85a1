"""Run plumbing shared by the workloads: work directory, Spark session
settings and shutdown, memory reading, and the statistics the metrics
are built from.

Nothing here starts a process or touches the filesystem at import time.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Under the checkout root, because a run may read and write only inside
# its checkout; each run's directory is deleted when the run ends.
WORK_PARENT = ".perfbench-work"

# Fixed session settings (see README.md "Session settings"). The heap
# is allocated and touched at its full size when the JVM starts, so
# peak RSS does not depend on when the collector chose to grow it.
DRIVER_MEMORY = "2g"
MIN_BEYOND = 10  # samples a tail percentile must leave above it


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


# ---- statistics ----------------------------------------------------

def tail_percentile(samples, min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """The highest percentile of ``samples`` that still has at least
    ``min_beyond`` samples strictly above its rank.

    With the samples sorted ascending, that is the value at 0-based rank
    ``n - 1 - min_beyond``; the percentile reported beside it is the share
    of samples at or below that rank. Returns ``(percentile, value)``.
    Raises ValueError when there are too few samples for any such
    percentile (fewer than ``min_beyond + 1``)."""
    xs = sorted(samples)
    n = len(xs)
    if n < min_beyond + 1:
        raise ValueError(
            f"{n} samples: a tail percentile needs at least {min_beyond + 1}"
        )
    i = n - 1 - min_beyond
    return 100.0 * (i + 1) / n, xs[i]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---- result ----------------------------------------------------------

@dataclass
class RunResult:
    """What a workload hands back to run.py: op accounting, the
    correctness verdict with its reasons, and both metric sets (only
    the one the run's mode asks for is printed as the result)."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return not self.problems

    def fail(self, msg: str) -> None:
        """Record a correctness failure (the run is then not correct)."""
        self.failed += 1
        self.problems.append(msg)


# ---- work directory --------------------------------------------------

@contextmanager
def work_dir(workload: str):
    """A fresh directory under the checkout for everything the run
    writes (warehouse, collections, Spark local dirs, event logs, temp
    files), removed afterwards. TMPDIR points into it so the Python
    side and the JVM launcher stay inside the checkout too."""
    parent = os.path.join(ROOT, WORK_PARENT)
    path = os.path.join(parent, f"{workload}-{os.getpid()}-{int(time.time() * 1000)}")
    tmp = os.path.join(path, "tmp")
    os.makedirs(tmp)
    saved = os.environ.get("TMPDIR")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    try:
        yield path
    finally:
        if saved is None:
            os.environ.pop("TMPDIR", None)
        else:
            os.environ["TMPDIR"] = saved
        tempfile.tempdir = None
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rmdir(parent)  # only when no concurrent run uses it
        except OSError:
            pass


# ---- Spark session ---------------------------------------------------

def session_conf(work: str, *, event_log: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if event_log:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: str, *, event_log: bool):
    """``session.get_spark`` at ``local[nproc]`` with the fixed settings.
    Returns the SparkSession."""
    from syzgydb_spark.session import get_spark

    n = cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=session_conf(work, event_log=event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM it launched has exited (its
    Python workers are its children and go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def process_tree(pid: int | None) -> list[int]:
    """``pid`` and all its live descendants (for the JVM: its PySpark
    daemon and Python workers)."""
    if pid is None:
        return []
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def engine_rss_mb(spark) -> float:
    """Peak RSS of the benchmark process, its JVM and the JVM's Python
    processes. Call before stopping the session and before any checker
    work in this process."""
    return peak_rss_mb([os.getpid()] + process_tree(jvm_pid(spark)))


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set size (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress to stderr, stamped with seconds since start; stdout
    carries only the report and result."""
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)
