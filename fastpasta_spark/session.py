"""SparkSession factory tuned for the validation workload.

Local mode for tests/bench; the same confs are what we'd submit with
``spark-submit --py-files`` on a real cluster (AQE on, skew-join on,
Arrow on — the reference's hand-built batching/backpressure
(alice_protocol_reader/src/lib.rs:134-236) maps onto these).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship fastpasta_spark to executor Python workers (the local-mode
    equivalent of `spark-submit --py-files fastpasta_spark.zip`).

    Without this, mapInPandas workers fail with ModuleNotFoundError
    whenever the driver script runs from outside the repo root.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(),
                            f"fastpasta_spark_pyfiles_{os.getpid()}")
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(zip_base, "zip",
                            root_dir=os.path.dirname(pkg_dir),
                            base_dir=os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)


def mem_total_kb(meminfo: str = "/proc/meminfo") -> int | None:
    """The host's MemTotal in kB, or None where /proc/meminfo is absent."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def driver_memory(total_kb: int | None,
                  override: str | None = None) -> str | None:
    """spark.driver.memory: `override` (SPARK_DRIVER_MEM) when set, else
    half the host's RAM in MiB, so the Python workers and the OS keep at
    least the other half (a heap sized past the RAM lets the JVM grow
    until the OOM killer stops it). None when the RAM is unknown:
    Spark's own default applies."""
    if override:
        return override
    return f"{total_kb // 2048}m" if total_kb else None


def get_spark(
    app_name: str = "fastpasta_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None -> local[*]. shuffle_partitions defaults to the core
    count (the default 200 over-parallelizes local/small data; on a
    real cluster you'd size it to ~2-3x total cores).
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env_cores) if env_cores else os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(4, cores)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # operator-internal persists (fused-pass output, signature
        # tables, inverted indexes) are CPU-bound to build, not
        # memory-bound to hold: columnar cache compression cost 25% of
        # check_all wall at 500k docs (round-8 A/B, OPTIMIZATION_r08.md)
        # for memory we do not need — MEMORY_AND_DISK already spills.
        # Memory-tight deployments (huge occurrence caches without
        # work_dir) re-enable via FASTPASTA_CACHE_COMPRESS=true.
        .config("spark.sql.inMemoryColumnarStorage.compressed",
                os.environ.get("FASTPASTA_CACHE_COMPRESS", "false"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    heap = driver_memory(mem_total_kb(), os.environ.get("SPARK_DRIVER_MEM"))
    if heap:
        builder = builder.config("spark.driver.memory", heap)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
