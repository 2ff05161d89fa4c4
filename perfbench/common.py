"""Shared helpers: session start, memory sampling, sizes, statistics and
the tie-aware top-k comparison every workload's output gate uses."""

from __future__ import annotations

import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8

def start_session(work: str):
    """get_spark on local[4] with a fixed 2 GB driver heap, console
    progress off, logs at ERROR and every temporary file inside ``work``.
    Returns (spark, seconds)."""
    from search_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the launch starts keeps its temp files (and no perf-data
    # file) inside the work dir; Python workers inherit TMPDIR
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            # the heap starts at its full size: a heap grown on demand ran
            # 3-5x as many GC cycles, and their number varied from run to run
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every job/stage/execution of a run for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it: the JVM exits
    when its stdin closes, and Spark's Python workers stop with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


class RssSampler:
    """Peak resident set of the driver JVM plus the largest Python worker
    (VmHWM of each process, read from /proc at sample points)."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.jvm_pid = int(self.jvm.ProcessHandle.current().pid())
        self.jvm_peak = 0.0
        self.worker_peak = 0.0

    @staticmethod
    def _hwm_mb(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:  # process exited between listing and reading
            pass
        return 0.0

    def sample(self) -> None:
        self.jvm_peak = max(self.jvm_peak, self._hwm_mb(self.jvm_pid))
        kids = self.jvm.ProcessHandle.current().descendants().toArray()
        for k in kids:
            self.worker_peak = max(self.worker_peak, self._hwm_mb(int(k.pid())))

    @property
    def peak_mb(self) -> float:
        return self.jvm_peak + self.worker_peak


def parallel(*fns):
    """Run independent calls on their own threads; results in order. Each
    thread's Spark jobs are planned concurrently on the driver."""
    with ThreadPoolExecutor(len(fns)) as pool:
        return [f.result() for f in [pool.submit(fn) for fn in fns]]


def dir_bytes(*paths: str) -> int:
    """Bytes of the data files (part-*) under the given directories."""
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files if f.startswith("part-")
            )
    return total


def timing(samples_ms: list[float]) -> dict:
    """Median plus the highest percentile, up to p90, with at least ten
    samples beyond it, with the sample count. Fewer than 21 samples give
    no percentile above the median, so none is reported."""
    n = len(samples_ms)
    out = {"n": n, "p50": statistics.median(samples_ms) if samples_ms else None}
    p = min(90, math.floor(100 - 1000 / n)) if n else 0
    if p > 50:
        out[f"p{p}"] = statistics.quantiles(samples_ms, n=100)[p - 1]
    return out


def drift(samples_ms: list[float]) -> float | None:
    """Median latency of the last quarter over that of the first quarter
    (in completion order); 1.0 means no drift within the run."""
    q = len(samples_ms) // 4
    if q < 2:
        return None
    return statistics.median(samples_ms[-q:]) / statistics.median(samples_ms[:q])


def topk_matches(got, want: dict, k: int, rel_tol: float, abs_tol: float = 0.0) -> bool:
    """True when ``got`` [(doc_id, score)] is a correct top-k of the exact
    scores ``want`` {doc_id: score}: the right length, every score equal
    to the exact one within tolerance, in descending order, and no
    missing doc whose exact score beats the lowest returned one. Ties at
    the k boundary may resolve to either doc."""
    def tol(x: float) -> float:
        return max(abs_tol, rel_tol * abs(x))

    if len(got) != min(k, len(want)) or len({d for d, _ in got}) != len(got):
        return False
    prev = float("inf")
    for d, s in got:
        if d not in want or abs(s - want[d]) > tol(want[d]) or s > prev + tol(s):
            return False
        prev = s
    if not got:
        return True
    floor = min(want[d] for d, _ in got)
    returned = {d for d, _ in got}
    return all(d in returned or s <= floor + tol(s) for d, s in want.items())
