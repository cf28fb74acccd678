"""Shared plumbing for the arrival-to-served benchmark.

Everything here sits outside the program under test: environment
pinning, the repeated session set-up behind ``setup_s``, the process-tree
memory sampler behind ``peak_rss_mb``, latency summaries, atomic file
landing, and the teardown that stops the JVM and its Python workers.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
WORK_ROOT = REPO_ROOT / ".perfbench_work"
SETUP_REPEATS = 3
TAIL_MIN_BEYOND = 10


def pin_environment(work_dir: Path) -> None:
    """Pin what the Spark driver and its Python workers inherit; call
    before the JVM starts.

    Workers are forked by the JVM from this process's environment, so
    the package and the benchmark modules (whose functions the workers
    unpickle by reference) must be on ``PYTHONPATH``.  Driver memory is
    sized to the machine instead of the session factory's cluster-sized
    default.
    """
    paths = [str(REPO_ROOT), str(BENCH_DIR)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    mem_total_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_total_kb = int(line.split()[1])
    driver_mb = max(512, min(1024, mem_total_kb // 1024 // 8))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_mb}m"
    local_dirs = work_dir / "spark-local"
    tmp = work_dir / "tmp"
    local_dirs.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local_dirs)
    # keep every temporary file of the driver, the JVM and the workers
    # inside the run's directory (PySpark's own temp dir follows
    # spark.local.dir; the JVM's perf-data file would go to /tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.local.dir={local_dirs}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ])


def new_session(app: str):
    """A fresh SparkSession from the package's own factory, warmed up:
    one Python RDD job on every core, so the Python worker daemon and
    its workers are forked before anything is timed."""
    from real_time_event_driven_data_pipeline_spark.session import get_spark

    spark = get_spark(app)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.parallelize(range(sc.defaultParallelism), sc.defaultParallelism).map(lambda x: x).count()
    return spark


def repeated_setup(app: str, work_dir: Path, prepare, repeats: int = SETUP_REPEATS):
    """Run ``prepare(spark, dir)`` after a fresh session, ``repeats``
    times, each in a new SparkContext and a clean directory.  Returns
    the last (session, state) and every set-up time; ``setup_s`` is
    their median, so the one-time JVM launch in the first set-up does
    not dominate."""
    from pyspark.sql import SparkSession

    times, spark, state = [], None, None
    for i in range(repeats):
        if spark is not None:
            spark.stop()
            SparkSession._instantiatedSession = None
        d = work_dir / f"setup{i}"
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        t0 = time.perf_counter()
        spark = new_session(app)
        state = prepare(spark, d)
        times.append(time.perf_counter() - t0)
    return spark, state, times


def fresh_state(prepare, spark, work_dir: Path, name: str):
    """``prepare`` again in the running session, in a new directory."""
    d = work_dir / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return prepare(spark, d)


def timed(fn):
    """(result, seconds) of ``fn()``."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def land(src: Path, landing_dir: Path, name: str) -> float:
    """Atomically move a fully written file into the landing directory
    and return the arrival instant (the start of its latency)."""
    t = time.perf_counter()
    os.rename(src, landing_dir / name)
    return t


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least
    TAIL_MIN_BEYOND samples beyond it.  With fewer samples than that
    no percentile qualifies and the maximum is reported as p100."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_MIN_BEYOND:
        return xs[-1], 100.0, n
    k = n - 1 - TAIL_MIN_BEYOND
    return xs[k], round(100.0 * (k + 1) / n, 2), n


def median(xs: list[float]) -> float:
    return statistics.median(xs)


class RssSampler:
    """Peak memory of the driver JVM (this process's child) and its
    Python workers, summed every 200 ms.  Python processes count their
    proportional set size, so pages a forked worker shares with the
    daemon count once, and the sum does not jump with the number of
    live workers.  The JVM, which shares next to nothing, counts its
    resident set size from the kernel's counters: reading its
    proportional set size walks its page tables under its memory-map
    lock for 15-40 ms, which stalls the program being measured.  Other
    descendants are skipped: they are short-lived helpers the JVM
    spawns, and until they exec they share the JVM's whole address
    space, which would count it twice."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def descendants(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            try:
                tasks = os.listdir(f"/proc/{p}/task")
            except FileNotFoundError:
                continue
            for t in tasks:
                try:
                    with open(f"/proc/{p}/task/{t}/children") as f:
                        kids = [int(c) for c in f.read().split()]
                except FileNotFoundError:
                    continue
                out.extend(kids)
                todo.extend(kids)
        return out

    @staticmethod
    def _field_kb(path: str, key: str) -> int:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
        return 0

    @classmethod
    def _kb(cls, pid: int, me: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f)
            name, ppid = status["Name"].strip(), int(status["PPid"])
            if name == "java" and ppid == me:
                return int(status["VmRSS"].split()[0])
            if name.startswith("python"):
                return cls._field_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
        except (FileNotFoundError, ProcessLookupError, KeyError):
            pass
        return 0

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            total = sum(self._kb(p, me) for p in self.descendants(me))
            self.peak_kb = max(self.peak_kb, total)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


@dataclass
class Outcome:
    """What one workload run hands back to ``run.py``."""

    metrics: dict[str, float]
    attempted: int
    failed: int
    detail: dict = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


def shutdown(spark) -> None:
    """Stop Spark, then the JVM gateway, and wait for every descendant
    process (JVM, Python daemon and workers) to exit."""
    from pyspark import SparkContext

    kids = RssSampler.descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def write_detail(workload: str, seed: int, trace: int, record: dict) -> Path:
    out = REPO_ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    path = out / f"{workload}-seed{seed}-trace{trace}.json"
    path.write_text(json.dumps(record, indent=1, default=str) + "\n")
    return path


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
