"""Scans / sources (reference ops S1-S4, SURVEY.md §2.1).

The reference enumerates ``10_state_aqi_*.csv`` files with an
``os.listdir`` + prefix/suffix loop and reads each with
``pd.read_csv`` one at a time (``dags/etl/source_to_stage.py:50-53``),
fully materializing a year in RAM per iteration. Here a single schema'd
``spark.read.csv`` with ``pathGlobFilter`` replaces the loop: Spark
splits files into tasks, streams them, and Catalyst pushes projections
and (for parquet) predicates into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import AQI_RAW_SCHEMA, COUNTIES_RAW_SCHEMA


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver-corpus table (columnar, pushdown-capable).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects ([PARQUET_TYPE_ILLEGAL]). We flip the legacy conf to
    read it as raw nanos and truncate to microsecond TIMESTAMP_NTZ with
    exact integer arithmetic (``div 1000`` — never double division,
    which loses sub-microsecond precision near 2^53). The conf is
    runtime-settable and harmless for the other tables.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"),
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_aqi_csv_glob(spark: SparkSession, source_dir: str) -> DataFrame:
    """S1+S2: one scan over every ``10_state_aqi_*.csv`` in ``source_dir``.

    Replaces the per-file loop at ``dags/etl/source_to_stage.py:50-53``.
    Explicit schema (no pandas-style inference); header row honored.
    ``Created``/``Last Updated`` are read as strings and coerced by the
    projection layer, mirroring the reference's post-hoc
    ``pd.to_datetime`` (``source_to_stage.py:71-72``).
    """
    return (
        spark.read.schema(AQI_RAW_SCHEMA)
        .option("header", True)
        .option("pathGlobFilter", "10_state_aqi_*.csv")
        .csv(source_dir)
    )


def read_counties_csv(spark: SparkSession, path: str) -> DataFrame:
    """S3: the static counties master (``dags/etl/source_to_stage.py:88-91``)."""
    return spark.read.schema(COUNTIES_RAW_SCHEMA).option("header", True).csv(path)
