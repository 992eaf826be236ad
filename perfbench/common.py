"""Shared plumbing for the benchmark: checkout-local work area, process-tree
memory sampling, percentiles and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# everything the benchmark writes lives here (listed in .gitignore)
WORK = os.path.join(ROOT, ".bench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def setup_env() -> None:
    """Keep every temp file, Spark scratch dir and the cached entry model
    inside the checkout. Must run before pyspark or the program is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # local[nproc / 2]: a build of this size ran as fast on 2 task slots as
    # on 4, and with half the cores left to the JVM's own threads and the
    # host its fastest build spread 0.07 between runs against 0.21 on 4
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, nproc() // 2))
    # the machine is shared: a small JVM heap keeps the footprint (and
    # peak_rss_mb) bounded; every workload fits in it with room to spare
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf(event_log_dir: str | None = None) -> dict:
    """extra_conf for nametag_spark.session.get_spark: scratch dirs inside the
    checkout, quiet progress bars, and the event log only when traced."""
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


@contextmanager
def run_dir():
    """A fresh scratch directory for this run's outputs, removed afterwards."""
    d = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def tail(values) -> float:
    """The highest value that leaves ten samples beyond it (p99 of 1000
    samples); the maximum of a sample too small for that."""
    s = sorted(values)
    return s[len(s) - 11] if len(s) > 11 else s[-1]


def median(values) -> float:
    return statistics.median(values)


def model_load_s(model_dir: str) -> float:
    """Median of three loads of the model directory."""
    from nametag_spark.model.model import NerModel

    ts = []
    for _ in range(3):
        t = time.perf_counter()
        NerModel.load(model_dir)
        ts.append(time.perf_counter() - t)
    return median(ts)


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root_pid: int) -> int:
    """Resident memory of a process and its descendants. Python processes
    count their proportional share (PSS): forked Spark workers share pages
    with their daemon, which plain RSS would count once per worker. The JVM
    shares nothing with them and counts its RSS, which is cheap to read;
    walking its multi-GB page tables for PSS stalls it measurably."""
    kids = _children_map()
    total = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                java = f.read().strip() == "java"
            total += _rss_bytes(pid) if java else _pss_bytes(pid)
        except OSError:
            pass  # the process exited between the listing and the read
    return total


class RssSampler:
    """Samples the resident memory of a process tree (tree_memory_bytes)
    every PERIOD seconds on a daemon thread and keeps the peak."""

    PERIOD = 0.25

    def __init__(self, root_pid: int | None = None):
        self.root_pid = root_pid or os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(self.root_pid))
            self._stop.wait(self.PERIOD)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def emit(attempted: int, failed: int, metrics: dict) -> None:
    """Print the result object as the last line of standard output; the run
    is correct when no operation failed. metrics: {name: (value, unit)}."""
    out = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
