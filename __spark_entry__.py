"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every registered query from the engine's plan registry
(one per SURVEY.md §2 operator row + extended surface).
``oracle_sql()`` — the DuckDB twins for the correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver may load this file by path from any cwd; anchor the package
# import to this file's directory.
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

# google.protobuf for st7 (transformWithState), provided at import
# time: the driver loads this module before it builds its
# SparkSession. If the JVM somehow predates this import,
# plans/streaming_q's _ensure_protobuf still covers driver + regular
# workers via sys.path + addPyFile.
from aqi_analysis_apache_airflow_spark.vendored import provide_protobuf

provide_protobuf()

from aqi_analysis_apache_airflow_spark.plans import REGISTRY
from aqi_analysis_apache_airflow_spark.plans import extended as _extended  # noqa: F401
from aqi_analysis_apache_airflow_spark.plans import queries as _queries  # noqa: F401

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["q1_pricing_summary"].fn(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins; queries without an entry get a rows-only check."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
