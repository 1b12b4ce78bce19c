"""Session, host stamps, memory sampling and statistics shared by the
workloads."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time


def process_start() -> float:
    """Epoch time at which this process was started."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ref_s() -> float:
    """Wall time of a fixed single-core spin: a host-speed stamp taken at the
    start and end of every run, so a slow host window shows in the output."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    return time.perf_counter() - t0


def loadavg() -> float:
    return os.getloadavg()[0]


# Nominal wall time of one ``calibrate`` call made right after engine work,
# about its time on a quiet 4-vCPU host. The time metrics are reported at
# this host speed (see ``HostSpeed``).
CAL_NOMINAL_S = 0.8


def calibrate(spark) -> float:
    """Wall time of a fixed plain-Spark job mix that calls nothing in the
    engine, shaped like the ops it scales: a six-way union of hashed
    aggregations over ``range`` on every core (planning plus executor CPU),
    two small shuffled aggregations (scheduling latency) and one stage
    through the Python workers."""
    from pyspark.sql import functions as F

    def passthrough(batches):
        yield from batches

    n = nproc()
    t0 = time.perf_counter()
    base = spark.range(0, 400_000, 1, n)
    df = None
    for i in range(6):
        part = base.where(F.col("id") % 6 == i).select(
            F.sum(F.hash("id", F.lit(i))).alias("h"))
        df = part if df is None else df.unionByName(part)
    df.collect()
    for i in range(2):
        spark.range(0, 2000, 1, n).groupBy(
            (F.col("id") % (7 + i)).alias("k")).count().orderBy("k").collect()
    spark.range(0, 4000, 1, n).mapInPandas(passthrough, "id long") \
        .agg(F.sum("id")).collect()
    return time.perf_counter() - t0


class HostSpeed:
    """Host-speed samples, taken between ops. Other tenants of a shared host
    change its speed by up to 2x within minutes; a time measured in a run is
    divided by a factor (a calibration time over ``CAL_NOMINAL_S``) to report
    it at the nominal host speed.

    ``after_op`` makes one call right after some ops, to scale those ops
    alone. It runs right after engine work every time, so it is comparable
    across runs of the same op sequence, and a host that slows mid-run is
    tracked op by op. The first ``calibrate`` call of a run runs cold and
    is made before the ops, unrecorded."""

    def __init__(self) -> None:
        self.samples: list[float] = []

    def after_op(self, spark) -> float:
        """One call right after some ops; its factor."""
        t = calibrate(spark)
        self.samples.append(t)
        return t / CAL_NOMINAL_S

    def factor(self) -> float:
        """Median factor of the run's calls."""
        return statistics.median(self.samples) / CAL_NOMINAL_S


def confine(workdir: str) -> None:
    """Point every scratch location of this process, the Spark launcher,
    the JVM and the Python workers into ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{jvm_opts}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def start_spark():
    """Start the engine's session at ``local[nproc]`` with shuffle partitions
    sized to the host (the package default of 32 oversubscribes small
    hosts)."""
    from harmonize_search_analyze_spark.session import get_spark

    n = nproc()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and every process it started
    (the Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    started = _descendants(os.getpid())
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 15
    while started and time.time() < deadline:
        started = [p for p in started if _running(p)]
        time.sleep(0.05)
    for p in started:  # workers that outlived their JVM
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def tree_rss_mb() -> float:
    """RSS of this process plus every descendant (JVM, Python workers)."""
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssPeak:
    """Peak of ``tree_rss_mb``, sampled every ``interval`` seconds by a
    background thread between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak = 0.0
        self.interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_rss_mb())

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())
        return self.peak


def persisted(spark) -> int:
    from harmonize_search_analyze_spark.functions.caching import (
        persisted_count,
    )

    return persisted_count(spark)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def iqm(xs) -> float:
    """Interquartile mean: the mean of the middle half of ``xs`` (a quarter
    of the values, rounded down, dropped at each end)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = len(s) // 4
    return statistics.mean(s[k:len(s) - k])


def pct(xs, p: float) -> float:
    """Nearest-rank percentile ``p`` in (0, 100]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def stamps(start: dict) -> dict:
    """Host stamps: cores, Spark version, cpu_ref and loadavg at start/end."""
    import pyspark

    return {
        "cores": nproc(),
        "spark_version": pyspark.__version__,
        "cpu_ref_start_s": start["cpu_ref"],
        "cpu_ref_end_s": cpu_ref_s(),
        "loadavg_start": start["loadavg"],
        "loadavg_end": loadavg(),
    }
