"""SparkSession factory tuned for the CDC merge-apply workload.

Local-mode testing runs on ``local[N]``; the same conf block is what we
would pass to ``spark-submit`` on a real cluster (minus master/memory,
which come from the cluster manager).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ram_local_dir(min_free_bytes: int = 16 * 1024**3) -> str | None:
    """RAM-backed scratch dir for shuffle/spill files, if the host has
    one with head-room (round-6 measurement: the merge-apply exchange
    drops ~30% wall when shuffle files live in tmpfs and skip lz4).

    Parameterised (guide §2.3 "there is no universal answer — measure"):
    ``SPARK_GRAFT_LOCAL_DIR`` overrides the choice outright (set it to
    '' to keep Spark's default /tmp); on a cluster the cluster manager
    provides local dirs and this helper is bypassed by spark-submit
    conf. Falls back to None (Spark default) when /dev/shm is absent or
    nearly full, so constrained hosts never OOM their tmpfs."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override is not None:
        return override or None
    base = "/dev/shm"
    try:
        st = os.statvfs(base)
        if st.f_bavail * st.f_frsize < min_free_bytes:
            return None
    except OSError:
        return None
    path = os.path.join(base, f"spark-local-{os.getuid()}")
    try:
        os.makedirs(path, exist_ok=True)
    except OSError:
        return None
    return path


def driver_memory(meminfo_path: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEMORY`` if set, else
    half of physical RAM (``MemTotal``) capped at 16g. A fixed 16g heap
    on a 15 GB host without swap lets the driver JVM grow until the
    kernel OOM-kills it; half of RAM leaves room for the Python workers
    and the page cache the parquet scans rely on. 16g when MemTotal
    cannot be read."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    cap_mb = 16 * 1024
    try:
        with open(meminfo_path) as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return f"{cap_mb}m"
    return f"{min(cap_mb, total_kb // 2048)}m"


def get_spark(
    app_name: str = "nifi_processors_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with CDC-appropriate defaults.

    AQE is on (runtime coalesce + skew-join splitting for the
    merge-apply shuffle); session timezone pinned to UTC so results are
    comparable with the DuckDB oracle; Arrow enabled for the pandas-UDF
    slow path.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # read parquet timestamps as TIMESTAMP (UTC session) rather than
        # NTZ — keeps unix_micros & friends applicable and matches the
        # DuckDB oracle's UTC-naive view of the same files
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # Parquet row-group size for OUR writes (binlogs, table
        # commits). A parquet row group is the scan-parallelism unit —
        # one row group can only ever be read by one task — and the
        # 128 MB default turns a single-machine bulk replay's source
        # scan into a handful of tasks on 32 cores (measured: the 16x
        # merge-apply replay drops 14.4s → 4.9s when its 8M-row binlog
        # halves carry ~10 row groups instead of 1). 8 MB keeps ≥10
        # groups per bulk segment here; cluster/object-store
        # deployments should raise SPARK_GRAFT_PARQUET_BLOCK back
        # toward 128M, where per-group metadata and sequential-read
        # amortization dominate and scan parallelism comes from having
        # many files instead.
        .config(
            "spark.hadoop.parquet.block.size",
            os.environ.get("SPARK_GRAFT_PARQUET_BLOCK", "8388608"),
        )
    )
    # Shuffle locality + compression (round-6, guide §2.3/§9): local
    # mode moves shuffle blocks through the filesystem, not a NIC — on
    # a tmpfs scratch dir the lz4 encode/decode is the only remaining
    # cost, and dropping it is a measured ~30% win on the merge-apply
    # exchange (8M-row payload shuffle: 10.0s → 6.6s). Both knobs stay
    # coupled and parameterised: compression turns off ONLY when the
    # shuffle dir is RAM-backed (SPARK_GRAFT_SHUFFLE_COMPRESS
    # overrides); cluster deployments get their local dirs from the
    # cluster manager and keep compressed shuffles — network bytes are
    # the scarce resource there, the opposite trade.
    local_dir = _ram_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    compress = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_COMPRESS",
        "false" if local_dir and local_dir.startswith("/dev/shm") else "true",
    )
    builder = builder.config("spark.shuffle.compress", compress).config(
        "spark.shuffle.spill.compress", compress
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
