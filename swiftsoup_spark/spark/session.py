"""SparkSession factory tuned for the extraction workload."""

from __future__ import annotations

import os


def _default_driver_memory() -> str:
    """48g, capped at half of physical memory: a heap limit above the
    machine's memory lets the JVM grow until the kernel kills it."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    except (AttributeError, ValueError, OSError):   # no sysconf / no such name
        return "48g"
    return "48g" if half_mb >= 48 * 1024 else f"{half_mb}m"


def get_spark(master: str | None = None, app: str = "swiftsoup_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None):
    from pyspark.sql import SparkSession

    # ensure Python workers can import this package
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pp if pp else "")

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # runtime split of oversized join partitions (skewed hosts /
        # duplicate-heavy fingerprints) — explicit, though default-on
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # HTML docs are tens of KB; keep Arrow batches ~thousands of docs
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # long-lived Python workers: daemon reuse keeps the native kernel
        # + imports warm across tasks (explicit — it is also the default)
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
