"""Session lifecycle, memory sampling and small statistics for the benchmark.

Everything the benchmark writes stays under ``<checkout>/.perfbench_work``:
the temp dir, Spark's local dirs, the warehouse, the event log, outputs
and the per-seed input cache.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import tempfile
import threading
import time
import zlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"


def configure(run_dir: Path, trace: bool) -> dict[str, str]:
    """Point every temp/scratch location inside ``run_dir``; return the
    Spark conf for ``get_spark(extra_conf=...)``. Call before any Spark
    or tempfile use (``tempfile`` caches its directory)."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # drop a cached temp dir taken before this call
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # every JVM started from here (Spark's launcher and the driver): no
    # hsperfdata file, which HotSpot always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def warm_workers(spark) -> None:  # noqa: ANN001
    """Start one Python worker per core and import the engine in each
    (the package zip reaches workers through get_spark)."""
    from med_doi_feature_extraction_spark.operators.dedup import with_minhash

    n = spark.sparkContext.defaultParallelism
    warm = spark.range(n * 4).repartition(n).selectExpr(
        "cast(id as string) as id", "concat('warm up text ', id) as text"
    )
    with_minhash(warm, "text").write.mode("overwrite").format("noop").save()


def stop_session(spark) -> None:  # noqa: ANN001
    """Stop the SparkContext and drop the Java handles that UDF objects
    cached for it. A UDF keeps the Java function built for the first
    context it ran in, and with it that context's Python accumulator
    socket, which is closed once the context stops; the next set-up
    must rebuild them as a fresh process would."""
    import gc

    from pyspark.sql.udf import UserDefinedFunction

    spark.stop()
    for obj in gc.get_objects():
        if isinstance(obj, UserDefinedFunction):
            obj._judf_placeholder = None


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any wait failure: kill
                proc.kill()
                proc.wait(timeout=30)


def _descendants() -> dict[int, tuple[str, list[str]]]:
    """Live descendants of this process: pid -> (command name, the stat
    fields after the name)."""
    stats: dict[int, tuple[str, list[str]]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as fh:
                head, _, rest = fh.read().decode(errors="replace").rpartition(")")
        except OSError:
            continue
        pid, fields = int(entry.name), rest.split()
        stats[pid] = (head.partition("(")[2], fields)
        children.setdefault(int(fields[1]), []).append(pid)
    out = {}
    stack = list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        out[pid] = stats[pid]
    return out


class RssSampler:
    """Peak summed RSS (MB) of this process's descendants: the driver JVM
    and the Python workers it forks. Samples /proc every ``period`` s and
    keeps the JVM share and worker count of the peak sample."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_mb = 0.0
        self.peak_detail: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> tuple[float, float, int]:
        """(total MB, JVM MB, other descendant processes)."""
        total = jvm = others = 0
        for pid, (name, _) in _descendants().items():
            try:
                with open(f"/proc/{pid}/statm", "rb") as fh:
                    rss = int(fh.read().split()[1]) * self._page
            except OSError:
                continue
            total += rss
            if name == "java":
                jvm += rss
            else:
                others += 1
        return total / 2**20, jvm / 2**20, others

    def _loop(self) -> None:
        while not self._stop.is_set():
            total, jvm, others = self._sample()
            if total > self.peak_mb:
                self.peak_mb = total
                self.peak_detail = {"jvm_mb": jvm, "other_procs": others}
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:  # noqa: ANN002
        self._stop.set()
        self._thread.join(timeout=10)


class HostSpeed:
    """The host's core speed while the workload runs, for scaling its times.

    The vCPUs of a shared host run at a speed that drifts by up to half
    again within minutes (co-tenants on the sibling hyperthreads, memory
    contention, time the hypervisor steals), and CPU and wall times drift
    with it. Every ``period`` s this thread pins itself to the next
    allowed CPU in turn and times one deflate of a fixed buffer in its own
    thread CPU time. The work never changes, so ``mean_ms``, the mean of
    those samples, grows as the host slows. It is a mean, not a median:
    the guest charges time stolen from a running thread to that thread,
    to a sample as to the workload's threads, and the rare samples that
    catch a steal carry that share. ``cpu_s`` is the CPU the samples used,
    to leave out of the workload's.
    """

    BUF = bytes((i * 7919) % 251 for i in range(1 << 17))

    def __init__(self, period: float = 0.05) -> None:
        self.period = period
        self.samples: list[float] = []
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        cpus = sorted(os.sched_getaffinity(0))
        while not self._stop.is_set():
            # pid 0 is the calling thread: only this thread moves
            os.sched_setaffinity(0, {cpus[len(self.samples) % len(cpus)]})
            t0 = time.thread_time()
            zlib.compress(self.BUF, 6)
            self.samples.append(time.thread_time() - t0)
            self._stop.wait(self.period)
        self.cpu_s = time.thread_time()

    @property
    def mean_ms(self) -> float:
        return 1e3 * statistics.fmean(self.samples)

    def __enter__(self) -> "HostSpeed":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:  # noqa: ANN002
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) ticks of the machine's CPUs so far, from /proc/stat:
    busy is user, nice, system, irq, softirq and steal."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], f[0] + f[1] + f[2] + f[5] + f[6] + f[7]


def cpu_seconds() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    live descendants, including the children they have already reaped.
    Time a co-tenant steals from the vCPUs is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    t = os.times()
    # utime, stime, cutime, cstime: stat fields 14-17, i.e. 11-14 after the name
    return t.user + t.system + sum(
        sum(int(x) for x in fields[11:15]) / tick for _, fields in _descendants().values()
    )


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest of p99/p95/p90/p75/p50 with at
    least ten samples beyond it; the maximum (percentile 100) when there
    are too few samples for any of them."""
    xs = sorted(values)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n - math.ceil(n * p / 100) >= 10:
            return _pct(xs, p), float(p)
    return xs[-1], 100.0


def _pct(xs: list[float], p: float) -> float:
    k = (len(xs) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def canon(v) -> str:  # noqa: ANN001
    """Engine-portable text of one value (floats to 6 dp, as the repo's
    DuckDB contract checker compares them)."""
    import datetime

    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(df, cols: list[str]) -> str:  # noqa: ANN001
    """Order-independent digest of a pandas frame over ``cols``."""
    import pandas as pd

    lines = sorted(
        "|".join(canon(None if v is pd.NaT else v) for v in row)
        for row in df[sorted(cols)].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def now() -> float:
    return time.perf_counter()
