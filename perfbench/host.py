"""Host facts, the effective Spark conf, a pure-CPU control, and the
driver JVM's lifetime and memory, for self-describing results."""

from __future__ import annotations

import os
import subprocess
import sys

CONF_KEYS = (
    "spark.master",
    "spark.driver.memory",
    "spark.local.dir",
    "spark.shuffle.compress",
    "spark.hadoop.parquet.block.size",
    "spark.sql.shuffle.partitions",
)


def facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        st = os.statvfs("/dev/shm")
        shm = st.f_blocks * st.f_frsize
    except OSError:
        shm = 0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "dev_shm_mb": shm // 2**20,
    }


def spark_conf(spark) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    out = {k: conf.get(k) for k in CONF_KEYS}
    out["cores"] = spark.sparkContext.defaultParallelism
    # Spark lets SPARK_LOCAL_DIRS override spark.local.dir
    out["SPARK_LOCAL_DIRS"] = os.environ.get("SPARK_LOCAL_DIRS")
    return out


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


_MD5_CHAIN = """
import hashlib, time
def chain(h=b"x" * 64):
    for _ in range({n}):
        h = hashlib.md5(h).digest()
t0 = time.perf_counter()
chain()
print(time.perf_counter() - t0)
"""


def cpu_control(n_proc: int, tasks_per_proc: int = 4) -> float:
    """Tasks/s of a fixed md5 chain (50k digests per task) run in
    ``n_proc`` processes at once: what the host delivers right now,
    independent of Spark. Interpreter start-up is not timed."""
    code = _MD5_CHAIN.format(n=50_000 * tasks_per_proc)
    procs = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
        for _ in range(n_proc)
    ]
    walls = [float(p.communicate()[0]) for p in procs]
    return n_proc * tasks_per_proc / max(walls)


class Jvm:
    """The driver JVM behind a PySpark session: peak RSS, liveness,
    and an orderly stop that waits for the process to end."""

    def __init__(self, spark):
        self.proc = spark.sparkContext._gateway.proc
        self.peak_mb = 0.0

    def alive(self) -> bool:
        return self.proc.poll() is None

    def sample(self) -> float:
        """Peak RSS (``VmHWM``) so far, in MB; keeps the last reading
        once the process is gone."""
        try:
            with open(f"/proc/{self.proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        self.peak_mb = max(self.peak_mb, int(line.split()[1]) / 1024)
        except OSError:
            pass
        return self.peak_mb

    def stop(self, spark, timeout_s: float = 60) -> None:
        self.sample()
        try:
            if self.alive():
                spark.stop()
                spark.sparkContext._gateway.shutdown()
        finally:
            # the gateway JVM exits when its stdin pipe closes
            if self.proc.stdin:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
