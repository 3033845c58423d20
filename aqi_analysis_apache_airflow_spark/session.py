"""SparkSession factory.

The reference connects to Postgres and reflects schemas at import time
(``dags/etl/models.py:8-12``) — an eager, hidden side effect. Here the
session is built explicitly, once, with settings chosen for both the
local test harness and a large cluster:

- UTC session timezone so timestamp semantics are stable and comparable
  against the DuckDB oracle (DuckDB timestamps are UTC-naive).
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- Arrow on: vectorized pandas interchange for the Pandas-UDF slow path.
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden (AQE coalesces the rest).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "aqi_analysis_apache_airflow_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session. Idempotent per JVM. ``extra_conf``
    is applied last, so it overrides any setting below."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8g + default G1 measured BEST on this box (A/B 2026-08-16,
        # 20-query pressure-sensitive subset, canary-normalized:
        # 24g heap ran ~7% SLOWER — larger G1 region scan cost —
        # and -XX:+UseParallelGC was within the ±4% box noise)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # JVM-flag passthrough (perfbench pins the JVM tmpdir and time
        # zone with it); it must be set before the JVM starts, so it
        # rides the builder, not spark.conf
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # the generated-class cache defaults to 100 entries; a
        # 263-query registry run compiles far more distinct stages
        # than that, so every bench pass recompiles almost every
        # stage (shared-JVM pressure, measured in BENCH_PRESSURE.json)
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
