"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same config block ships to the cluster via
``spark-submit --py-files`` (see ``scripts/submit.sh``). UTC timezone is
pinned so DuckDB-oracle comparisons are deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cores() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    """Physical RAM in bytes, or the cgroup ``memory.max`` when lower."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            ram = min(ram, int(limit))
    except OSError:
        pass
    return ram


def host_driver_mem() -> str:
    """``$SPARK_DRIVER_MEM``, else ~40% of ``host_mem_bytes()``, capped at
    48g: a local-mode JVM heap sized past the box gets the whole test run
    OOM-killed."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    return f"{max(1, min(48, int(host_mem_bytes() * 0.4) // 2**30))}g"


def get_spark(
    app_name: str = "morra_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[host_cores()]`` and the driver heap to
    ``host_driver_mem()``. ``shuffle_partitions`` defaults to the local
    core count — NOT Spark's 200 default, which over-parallelizes small
    local runs; on a real cluster this is overridden to ~2-3x total
    executor cores.
    """
    cpus = host_cores()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size balances per-batch amortization (weight-matrix
        # setup) against JVM<->Python pipelining: a task's conversion and
        # compute only overlap across batches, so one giant batch per
        # task serializes them. Swept 8k/16k/50k on the flagship at 16
        # cores: 16k wins (257k turns/s vs 216k at 50k, 186k at 8k).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16000")
        .config("spark.driver.memory", host_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # list up to 1024 partition dirs on the driver: at Spark's default
        # of 32, every read of a part_key sink (n_parts=64) launched a
        # 64-task listing job, each task deserializing a full Hadoop
        # Configuration. The trade: a layout with hundreds of part dirs
        # on an object store is listed one LIST call at a time by the
        # driver instead of in parallel; past 1024 Spark goes back to
        # the parallel listing job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1024")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ship_package(spark: SparkSession) -> str | None:
    """Ship the ``morra_spark`` package to executors via ``addPyFile`` —
    the runtime equivalent of ``spark-submit --py-files``.

    Required whenever executors are separate processes from the driver's
    Python (``local-cluster[...]``, a real cluster): executor tasks that
    import ``morra_spark`` (the autotrain sweep, mapInPandas stages)
    would otherwise die with ModuleNotFoundError. Plain ``local[*]``
    masters share the driver's sys.path, so shipping is skipped there.
    Returns the zip path, or None when skipped. Idempotent per session.
    """
    master = spark.conf.get("spark.master", "")
    if master.startswith("local[") or master == "local":
        return None
    sc = spark.sparkContext
    key = "_morra_spark_pyfiles_zip"
    cached = getattr(sc, key, None)
    if cached:
        return cached
    import zipfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = f"/tmp/morra_spark_pyfiles_{os.getpid()}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(pkg_root, "morra_spark")
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, pkg_root))
    sc.addPyFile(zpath)
    setattr(sc, key, zpath)
    return zpath
