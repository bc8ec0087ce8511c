"""SparkSession factory tuned for the extraction workload."""

from __future__ import annotations

import os


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
