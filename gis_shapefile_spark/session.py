"""SparkSession factory tuned for the spatial-join + tiling engine.

Local-mode testing runs on ``local[N]`` but every config here is chosen for
the 1000-executor / 100 TB target: AQE on (runtime coalesce + skew-join
splitting backstops the explicit salting in operators/spatial_join.py),
Arrow for every pandas_udf boundary, shuffle partitions sized to cores
locally (on a real cluster AQE coalesces from a higher initial number).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip this package so executors can import it (spark-submit --py-files
    equivalent, applied automatically in local/driver-built sessions)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(tempfile.gettempdir(), "gis_shapefile_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return out


def host_cpus() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int | None:
    """MemTotal from /proc/meminfo in MB (None where it does not exist)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def default_driver_memory(total_mb: int | None) -> str:
    """Half of the host's memory, capped at 48g (the cap also applies
    when the total is unknown)."""
    cap = 48 * 1024
    return f"{min(total_mb // 2, cap) if total_mb else cap}m"


def get_spark(
    app_name: str = "gis_shapefile_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (default nproc)
    and the driver heap to ``$SPARK_GRAFT_DRIVER_MEM`` (default half of
    MemTotal, capped at 48g); ``extra_conf`` overrides either.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory(mem_total_mb()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(_package_zip())
    return spark


def stop_spark() -> None:
    """Stop the active session (used by the two-parallelism bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark keeps the JVM-side default session; clear so a new master takes.
    SparkSession.builder._options = {}
