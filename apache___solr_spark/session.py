"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` (or addPyFile).

    With no ``dest`` the zip lands in the system temp dir, keyed on the
    NEWEST nested .py mtime — the dir's own mtime does not change when a
    file inside a subpackage is edited (stale-zip bug) — so rebuilds are
    skipped while the source is unchanged."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    if dest is None:
        newest = 0.0
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    newest = max(
                        newest, os.path.getmtime(os.path.join(root, f))
                    )
        dest = os.path.join(
            tempfile.gettempdir(), f"{pkg_name}-{newest:.0f}.zip"
        )
        if os.path.exists(dest):
            return dest
    with zipfile.ZipFile(dest + ".tmp", "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    os.replace(dest + ".tmp", dest)
    return dest


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors (the ``spark-submit
    --py-files`` analog, applied automatically so library users don't hit
    ModuleNotFoundError in UDF workers)."""
    spark.sparkContext.addPyFile(build_pyfiles_zip())


def host_memory_mb() -> int | None:
    """The host's RAM (MemTotal) in MiB, or None where /proc/meminfo is
    unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEM``, else half of the host's RAM capped at 48g: the
    driver JVM shares the host with the Python workers, and a heap sized
    past RAM gets the JVM OOM-killed instead of collected."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    mb = host_memory_mb()
    return "48g" if mb is None else f"{min(48 * 1024, mb // 2)}m"


def get_spark(
    app_name: str = "apache___solr_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a local session tuned like we'd tune a real cluster.

    On a real deployment this is `spark-submit --py-files` territory; the
    session-level knobs below (AQE, Arrow, shuffle partition sizing) carry
    over unchanged.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    cores = str(cores)
    master = cores if cores.startswith("local") else f"local[{cores}]"
    n_cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cores)
        except ValueError:
            shuffle_partitions = n_cores
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        # local mode: executor and driver share one JVM and one fate, but
        # the executor still runs the heartbeat self-kill designed for real
        # clusters — after spark.executor.heartbeat.maxFailures consecutive
        # driver-side RPC stalls (long GC / giant plan compilation) it
        # System.exit(56)s the WHOLE JVM mid-suite.  Make heartbeats
        # effectively non-fatal locally; a real deployment overrides these
        # via spark-submit conf where executor self-kill is the right call.
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.executor.heartbeat.maxFailures", "10000")
        .config("spark.network.timeout", "3600s")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # smaller split targets than the 128MB/4MB defaults: our corpora are
        # heavily-compressed parquet, and the expensive part is the Python
        # analysis per ROW, not the scan bytes — without this a 1M-doc corpus
        # yields ~16 input splits and caps the UDF stage's parallelism far
        # below the core count.  On a real PB-scale deployment these can go
        # back up via env.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # the postings table has IndexConfig.n_buckets (64) bucket= dirs;
        # above this threshold (default 32) every read of it launches a
        # Spark job just to list them, so list on the driver instead
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark
