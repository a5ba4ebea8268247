"""SparkSession factory with engine-appropriate defaults."""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

from zuliasearch_spark.util.alloc import export_env, worker_env_configs


def get_spark(
    app: str = "zuliasearch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # under spark-submit the launcher has started the JVM with its own
    # --master (pyspark reads PYSPARK_GATEWAY_PORT to attach to it):
    # keep that master unless the caller names one
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]"
    # shuffle/spill scratch: this sandbox's /tmp writes at ~16 MB/s,
    # which serializes every shuffle; tmpfs restores the NVMe-class
    # local-disk bandwidth a real executor would have
    local_dir = os.environ.get("SPARK_LOCAL_DIRS") or (
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    )
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
    b = SparkSession.builder if master is None else SparkSession.builder.master(master)
    b = (
        b.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus) * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small batches keep each kernel call's transient buffers
        # inside the allocator pool's resident pages (util/alloc.py);
        # measured 12.6 vs 0.7 MB/s tokenizing 10 KB docs at 1024 vs
        # 16k rows per batch on this host
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    # Spark's workers import pyspark from $SPARK_HOME/python/lib/
    # pyspark.zip, and the importlib.invalidate_caches() every task runs
    # makes each of their zipimporters re-read the archive: 160-350 ms
    # per task at local[4], most of a pinned search(). This daemon drops
    # the zips so workers import the driver's installed pyspark
    # (worker_daemon.py). On a 4-CPU host a pinned postings search()
    # went from 418 to 236 ms p50 (medians of ten benchmark seeds) and
    # a no-op applyInPandas job from 385 to 233 ms.
    if _daemon_importable():
        b = b.config("spark.python.daemon.module", "zuliasearch_spark.worker_daemon")
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    # glibc allocator env for python workers (must be present at
    # worker-process start): via executorEnv AND the driver's own
    # environment (local-mode daemons fork from the driver's env)
    export_env()
    for k, v in worker_env_configs().items():
        b = b.config(k, v)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _daemon_importable() -> bool:
    """Whether a worker started by ``python -m`` from this directory can
    import this package: from the working directory, ``PYTHONPATH`` or
    site-packages. Otherwise workers keep Spark's own daemon."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    paths += site.getsitepackages()
    return any(p and os.path.abspath(p) == root for p in paths)
