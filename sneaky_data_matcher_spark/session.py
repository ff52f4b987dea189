"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings are what we would
ship to a real cluster (AQE on, Arrow on, sensible shuffle parallelism).
At 100 TB the only per-deployment knobs are ``spark.sql.shuffle.partitions``
(≈ 2-3x total cores) and executor memory; everything else is expressed in
the plans themselves (broadcast hints, repartitioning, salting).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dirs() -> str:
    """Pick shuffle/spill dirs: explicit env wins; else tmpfs when it has
    >= 32 GiB free; else the platform default (disk /tmp)."""
    env = os.environ.get("SPARK_LOCAL_DIRS")
    if env:
        return env
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 32 * 1024**3:
            return "/dev/shm/spark-local"
    except OSError:
        pass
    return "/tmp"


def _driver_memory() -> str:
    """$SPARK_DRIVER_MEM, else half the physical RAM, at most 16g: a heap cap
    above the machine's RAM lets G1 grow the heap until the OS kills the JVM."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024**3
    return f"{max(1, min(16, ram_gib // 2))}g"


def _cpus(cpus: int | None = None) -> int:
    """``cpus`` if given, else $SPARK_GRAFT_CPUS, else this machine's CPU
    count: more local task slots than cores only oversubscribes the box."""
    if cpus is not None:
        return cpus
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else os.cpu_count() or 1


def get_spark(
    app_name: str = "sneaky_data_matcher_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or the machine's CPU count (see
    ``_cpus``). Shuffle partitions default to the core count — on a real
    cluster you would set 2-3x total cores.
    """
    cpus = _cpus(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        # shuffle/spill dir on tmpfs: local-mode stand-in for the NVMe-backed
        # local dirs a production cluster uses — on rotational /tmp the
        # shuffle write becomes a serial bottleneck that caps scaling.
        # Guarded: tmpfs spill eats RAM, so only when /dev/shm has real
        # headroom (>=32 GiB free); otherwise keep the disk-backed default.
        .config("spark.local.dir", _local_dirs())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
