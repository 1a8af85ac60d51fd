"""SparkSession factory tuned for this engine.

Local mode here; on a real cluster the same builder is used by
``spark-submit --py-files`` (see scripts/submit_crawl.py). AQE is on so skewed
joins get runtime skew-join splitting.

Python workers fork from ``web_crawler_spark.worker_daemon`` instead of
``pyspark.daemon``: it keeps each task from re-reading the directory of every
zip archive on the worker's path, which was most of a small task's fixed
cost. The crawl engine reads its per-round counts from ``DataFrame.observe``
on the writes it runs anyway, so a round runs no separate count job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "web_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode; a real cluster would size this to
        # executors × cores (or rely on AQE coalescing from a higher number)
        shuffle_partitions = cpus if master.startswith("local") else 200
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # cap fused codegen methods at HotSpot's 8000-byte JIT ceiling —
        # between 8000 and Spark's 65535 default a fused method runs as
        # interpreted bytecode forever (measured 100x on the 64-term
        # embedding dots; see analytics/common.ensure_jitable_codegen)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
    )
    if master.startswith("local"):
        # the daemon starts before any task and imports this package, so
        # the worker needs the package root on its path whatever the cwd
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        b = b.config("spark.executorEnv.PYTHONPATH", root)
    b = b.config("spark.python.daemon.module", "web_crawler_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
