"""SparkSession factory tuned for the sandbox (local[N]) but written for
multi-executor clusters: every knob set here is cluster-safe.

AQE is on (runtime coalesce + skew-join splitting), except where a
caller holds ``sql_conf`` to turn it off (the warm BM25 engine plans its
cache without it); Arrow is on (every pandas UDF transfer is
vectorized); shuffle partitions default to the local core count rather
than 200 so small-SF runs don't drown in empty tasks — on a real cluster
this is overridden via spark-submit conf.
Python workers run under ``worker_daemon`` (pyspark's daemon without its
fixed per-task zip re-read and import-time GC walk), and find this
package through ``spark.executorEnv.PYTHONPATH`` from any working dir.
"""

from __future__ import annotations

import contextlib
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

# the directory holding this package, which Python workers must import:
# the daemon module and every UDF the package ships live in it
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# local mode runs every task thread in the driver JVM: give it half the
# machine's memory, within these bounds
DRIVER_MEM_MIN_GB = 1
DRIVER_MEM_MAX_GB = 64


def machine_cores() -> int:
    """Cores this process may run on (its affinity mask, which a
    container or ``taskset`` narrows below the host's count)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def machine_memory_bytes() -> int:
    """Physical memory, capped by a cgroup v2 limit when one is set."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
    except OSError:
        return total
    return min(total, int(limit)) if limit.isdigit() else total


def spark_cores() -> int:
    """``$SPARK_GRAFT_CPUS`` when set, else the machine's cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or machine_cores()


def default_driver_memory(mem_bytes: int) -> str:
    """Half of ``mem_bytes`` as a JVM heap size, within
    [DRIVER_MEM_MIN_GB, DRIVER_MEM_MAX_GB]."""
    gb = min(max(mem_bytes // 2 >> 30, DRIVER_MEM_MIN_GB), DRIVER_MEM_MAX_GB)
    return f"{gb}g"


def driver_memory() -> str:
    """``$SPARK_DRIVER_MEM`` when set, else derived from the machine."""
    return (os.environ.get("SPARK_DRIVER_MEM")
            or default_driver_memory(machine_memory_bytes()))


def worker_pythonpath() -> str:
    """PACKAGE_PARENT ahead of the user's ``$PYTHONPATH``."""
    user = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    return os.pathsep.join([PACKAGE_PARENT] + [p for p in user if p and p != PACKAGE_PARENT])


def get_spark(
    app_name: str = "data_prep_opensearch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = spark_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = driver-only: the heap serves all executor threads.
        # Undersizing it GC-thrashes precisely when parallelism is high,
        # which shows up as ANTI-scaling (32 threads slower than 8).
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "data_prep_opensearch_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (used by the scaling bench between runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark caches the JVM-side session; clear so a new master takes effect.
    SparkSession.builder._options = {}


@contextlib.contextmanager
def sql_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set the SQL confs in ``confs`` for the body of the ``with``, and
    restore each one's prior value (or unset it, if it was unset) in
    ``finally``. The override is session-wide while it is held: every
    query any thread of this session plans in the meantime sees it."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _materialize(df: DataFrame) -> DataFrame:
    """``df`` computed once, with its lineage cut. With a checkpoint dir
    set on the SparkContext this is a reliable ``checkpoint()`` (a lost
    executor's blocks are re-read from the dir); otherwise a
    ``localCheckpoint()`` in executor storage, which a lost executor
    recomputes from scratch."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
