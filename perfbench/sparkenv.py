"""Spark session set-up for the benchmark: one driver JVM per run, sessions
started and stopped inside it, every file kept under the checkout's work dir.

Set-up is what ``setup_s`` times: session start, view registration over the
bundled tables, and a Python-worker warmup sized to the core count."""

from __future__ import annotations

import os
import sys
import time

from geotrellis_contrib_spark import derive
from geotrellis_contrib_spark.session import get_session

from perfbench.paths import DATA_DIR, WORK


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _identity(batches):
    yield from batches


def start(app: str, n_cores: int, event_log: str | None = None):
    """Start a session and register views; returns (spark, phase seconds)."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a heap committed up front: G1 growing it from 1/64 of host memory
        # made whole runs bimodal (same job 2.2 s in one JVM, 2.8 s in the next)
        "spark.driver.extraJavaOptions": f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '2g')}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.rolling.enabled": "false",
                     # no zstd module is installed to read compressed logs
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_session(app_name=app, cores=n_cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    derive.register_views(spark, DATA_DIR)
    t2 = time.perf_counter()
    spark.range(0, 1024 * n_cores, 1, n_cores).mapInPandas(_identity, "id long") \
        .write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    print(f"perfbench: set-up {t1 - t0:.3f} + {t2 - t1:.3f} + {t3 - t2:.3f} s",
          file=sys.stderr, flush=True)
    return spark, {"session_s": t1 - t0, "views_s": t2 - t1, "py_warm_s": t3 - t2}


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it:
    the driver JVM, the Python worker daemon and its workers, reaped
    children included. Unlike wall time, it does not grow while the host
    gives these CPUs to other machines' work."""
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue   # the process ended while the table was read
        children.setdefault(int(fields[1]), []).append(int(pid))
        used[int(pid)] = sum(int(x) for x in fields[11:15])   # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    """The JVM's resident-set high-water mark (VmHWM) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def job_group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


class PhaseListener:
    """Catalyst tracker phases of every query execution a session runs: a
    py4j proxy of ``org.apache.spark.sql.util.QueryExecutionListener``, so
    the phases are those of the plans that were executed (a write's own
    command plan included), and nothing is planned a second time."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._ms: dict[str, float] = {}
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java interface
        add_phases(self._ms, qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java interface
        add_phases(self._ms, qe)

    def take(self) -> dict[str, float]:
        """Phase milliseconds summed over the executions since the last take."""
        self._bus.waitUntilEmpty()
        out, self._ms = self._ms, {}
        return out


def add_phases(acc: dict[str, float], qe) -> None:
    """Add the tracker phases of the JVM QueryExecution ``qe`` to ``acc``."""
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        acc[kv._1()] = acc.get(kv._1(), 0.0) + float(kv._2().durationMs())
