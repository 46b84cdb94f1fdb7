"""SparkSession factory.

Single place where every entry point (tests, bench, driver contract) builds
its session, so scale-relevant configs are uniform:

- AQE on (runtime coalescing + skew-join splitting — SURVEY.md §4 R12),
- Arrow on with bounded batch size (the reference tuned its REST batch sizes
  per table, ``07_input_cognition_data_rust.py:99,146``; here one knob:
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — SURVEY.md §4 R4),
- UTC session timezone (oracle comparison against DuckDB),
- shuffle partitions sized to cores for local mode; on a real cluster this
  is set to ~2-3x total cores by the submitter, and AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cores: int | str | None = None,
    app_name: str = "logcrawler_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cores``: int N -> ``local[N]``; None -> ``$SPARK_GRAFT_CPUS`` or ``*``.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(cores) if str(cores).isdigit() else n

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    # Pre-size and pre-touch the driver/executor heap (local mode: one JVM).
    # Measured on this host: a cold 48g heap grows lazily under 32-thread
    # allocation pressure, and the page-fault/commit cost lands INSIDE the
    # first minutes of query time (crawl runs [198s, 102s, 30s] without
    # vs [25s, 16s, 12s] with — 6x on the bench median). -Xms=-Xmx plus
    # AlwaysPreTouch moves that cost to session startup, exactly what
    # production executors do (guide §5: size memory to the workload).
    # 24g (was 48g): GC logs show ~6GB live at the sf1.0 bench, 24g keeps
    # 4x headroom, stays under the 32GB compressed-oops limit, and
    # pre-touches in seconds (48g pre-touch measured 250s on this microVM).
    # Override knob: SPARK_GRAFT_PRETOUCH=0 disables (small test sessions).
    java_opts = f"-Xms{driver_mem}"
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0":
        java_opts += " -XX:+AlwaysPreTouch"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # ad-hoc conf injection for profiling runs (e.g. eventLog) without
    # touching call sites: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
