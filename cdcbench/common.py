"""Run environment, statistics and result output shared by the workloads."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """One directory per run, under the checkout, removed at the end: feed,
    tables, checkpoints, Spark local dirs and temp files all live here."""

    def __init__(self, workload: str):
        self.path = os.path.join(ROOT, ".cdcbench_run", f"{workload}-{os.getpid()}")

    def __enter__(self) -> str:
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.path, sub))
        return self.path

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def pin_env(run_dir: str) -> None:
    """Environment for this process and every process it starts (JVM,
    Python workers, the serve process): local[nproc], bounded driver memory,
    all scratch under the run directory, the checkout on the Python path."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    import tempfile

    tempfile.tempdir = tmp


def start_spark(run_dir: str):
    """The engine's session at local[nproc]. The session's own Python worker
    pre-fork is skipped: every workload warms up on its real plans, which
    fork the workers they need (backfill needs none)."""
    from airbyte_module_spark import get_spark

    os.environ["SPARK_GRAFT_NO_PY_WARMUP"] = "1"

    n = nproc()
    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        app_name="cdcbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a fixed, pre-touched heap under the throughput collector: G1's
            # heap growth made replay times wander by ~30% between runs and
            # peak RSS by ~40%
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:+UseParallelGC -Xms{DRIVER_MEMORY}"
                " -XX:+AlwaysPreTouch"
            ),
        },
    )


def stop_spark() -> None:
    """Stop this process's Spark session and wait for its JVM to exit (the
    JVM ends when its stdin closes; its Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(60)


def job_counter(spark):
    """Spark jobs started so far in this context, across all job groups."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: int(dag.nextJobId())


def codegen_compiles(spark) -> int:
    """Generated classes Janino has compiled so far in this JVM (Spark's
    codegen cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def versions(spark=None) -> dict:
    import pyarrow
    import pyspark

    out = {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "nproc": nproc(),
        "driver_memory": DRIVER_MEMORY,
    }
    if spark is not None:
        out["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return out


# ------------------------------------------------------------ memory sampler
def _tree_rss(root_pid: int) -> dict[str, int]:
    """Resident bytes per process of the tree under ``root_pid``, keyed
    ``pid:name``. Each process counts its PSS (proportional set size), so
    pages shared between processes (forked Python workers, a JVM child
    between fork and exec) count once across the tree."""
    procs: dict[int, tuple[int, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        procs[int(name)] = (int(tail.split()[1]), head.split("(", 1)[1])
    out = {}
    for pid, (_, comm) in procs.items():
        p = pid
        while p and p != root_pid:
            p = procs[p][0] if p in procs else 0
        if p == root_pid:
            pss = _pss(pid)
            if pss is not None:
                out[f"{pid}:{comm}"] = pss
    return out


def _pss(pid: int) -> int | None:
    """PSS bytes of a process; None for a thread listed under /proc or a
    process that has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            if next(int(x.split()[1]) for x in f if x.startswith("Tgid:")) != pid:
                return None
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, StopIteration):
        pass
    return None


class RssSampler:
    """Peak resident memory of this process and all its descendants, with
    the per-process breakdown at the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            tree = _tree_rss(me)
            total = sum(tree.values())
            if total > self.peak:
                self.peak, self.at_peak = total, tree
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# ---------------------------------------------------------------- statistics
def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def gmean(values: list[float]) -> float:
    """Geometric mean: every operation counts by its ratio, so a steady
    summary of latencies that differ by kind (as TPC's power metrics use)."""
    return statistics.geometric_mean(values)


def summary(values: list[float]) -> dict:
    """Median/p90 with the sample count, for the detail line."""
    if not values:
        return {"n": 0}
    return {"n": len(values), "p50": median(values), "p90": pct(values, 90)}


class Clock:
    """Deadline for the measured phase."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.deadline = self.t0 + seconds

    def left(self) -> float:
        return self.deadline - time.perf_counter()


def emit(result: dict, detail: dict) -> None:
    """Detail line first, then the one-line result the caller parses."""
    print("detail " + json.dumps(detail, sort_keys=True, default=str), flush=True)
    print(json.dumps(result), flush=True)
