"""Host shape, Spark session lifetime, work directory and statistics.

Everything the benchmark writes goes under the checkout: the session's
scratch, spill, warehouse and event-log directories live in one work
directory that is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
RESULTS_DIR = os.path.join(BENCH_DIR, "results")
PACKAGE_DIR = os.path.join(ROOT, "osc_geo_h3grid_srv_spark")
FLOOD_FIXTURE = os.path.join(ROOT, "tests", "fixtures", "flood_0010y.parquet")

# percentiles tried for the tail metric, in tenths, highest first
_TAIL_PERMILLE = (999, 990, 950, 900, 750, 500)


@dataclass(frozen=True)
class HostShape:
    """session shape taken from the host: cores the process may run on
    (what `nproc` prints) and total memory from /proc/meminfo."""

    cores: int
    mem_total_mb: int

    @classmethod
    def detect(cls) -> "HostShape":
        cores = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
                    break
            else:
                raise RuntimeError("MemTotal missing from /proc/meminfo")
        return cls(cores=cores, mem_total_mb=mem_kb // 1024)

    @property
    def driver_memory_mb(self) -> int:
        """a quarter of host memory for the local driver (which also runs
        the executors), at least 1 GiB."""
        return max(1024, self.mem_total_mb // 4)

    @property
    def shuffle_partitions(self) -> int:
        return 2 * self.cores


class WorkDir:
    """per-run scratch directory inside the checkout, removed on exit."""

    def __init__(self, name: str):
        self.path = os.path.join(BENCH_DIR, ".work", name)

    def __enter__(self) -> "WorkDir":
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        return self

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def start_session(host: HostShape, work: WorkDir, event_log_dir=None):
    """local[cores] session of the engine's own shape (make_spark), with
    every scratch location pointed into the work directory and Python
    workers started. The event log is enabled only when `event_log_dir`
    is given (traced run)."""
    tmp = work.sub("tmp")
    local = work.sub("local")
    # the driver JVM and the Python workers it forks inherit these
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no /tmp/hsperfdata_* from the launcher JVM or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")

    from osc_geo_h3grid_srv_spark.engine import make_spark
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{host.driver_memory_mb}m",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": work.sub("spark-warehouse"),
        "spark.driver.extraJavaOptions":
            "-Djava.security.egd=file:/dev/./urandom "
            f"-Djava.io.tmpdir={tmp}",
    }
    if event_log_dir is not None:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        # one plain JSON-lines file, readable without a codec
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = make_spark(app="perfbench", cores=host.cores,
                       shuffle_partitions=host.shuffle_partitions,
                       extra_conf=conf)
    # the session is ready once every core has a Python worker: one
    # trivial Arrow task per core starts them (they are reused after)
    spark.range(0, host.cores, 1, host.cores).mapInArrow(
        lambda batches: batches, schema="id long").collect()
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark, timeout_s: float = 60.0):
    """stop the session, then end the driver JVM and wait for it: the
    gateway JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)


def peak_rss_mb(pid="self") -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def summarize(values) -> dict:
    """median and quartiles of a sample, with every sample kept."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("no samples")
    if len(vals) == 1:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"n": len(vals), "median": statistics.median(vals),
            "q1": q1, "q3": q3, "samples": vals}


def tail(values) -> dict | None:
    """highest percentile with at least ten samples beyond it, with the
    percentile and the sample count; None below twenty samples."""
    vals = sorted(float(v) for v in values)
    n = len(vals)
    for pm in _TAIL_PERMILLE:
        if n * (1000 - pm) >= 10 * 1000:
            value = statistics.quantiles(vals, n=1000,
                                         method="inclusive")[pm - 1]
            return {"percentile": pm / 10, "value": value, "n": n,
                    "beyond": sum(v > value for v in vals)}
    return None

