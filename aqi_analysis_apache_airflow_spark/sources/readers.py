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

import json
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import AQI_RAW_SCHEMA, COUNTIES_RAW_SCHEMA


def _unmapped(t) -> bool:
    """Whether the arrow type ``t`` holds, at any depth, a type that
    Spark's parquet inference maps differently from ``from_arrow_type``
    or not at all: a nanosecond timestamp (INT64 nanos or INT96), the
    null type (Spark infers INT) or a time of day."""
    import pyarrow as pa

    if pa.types.is_null(t) or pa.types.is_time(t):
        return True
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return True
    return any(_unmapped(t.field(i).type) for i in range(t.num_fields))


def footer_schema(path: str) -> T.StructType | None:
    """The Spark schema of one local parquet file, read from its footer
    with pyarrow (no Spark job), or None when the footer is remote or
    unreadable (a directory, a missing or corrupt file, no pyarrow) or
    holds a type this mapping does not cover.

    Types map as Spark's own inference maps them
    (``from_arrow_type(..., prefer_timestamp_ntz=True)``), with two
    top-level timestamp encodings decided by the parquet physical type
    rather than by the arrow type, which reports both as
    ``timestamp[ns]``:

    - INT64 TIMESTAMP(NANOS), which Spark cannot read as a timestamp
      ([PARQUET_TYPE_ILLEGAL]), maps to ``LongType``: Spark then reads
      the raw nanos without any session conf;
    - INT96 maps to ``TimestampType``, as Spark infers it.

    Any other type that Spark infers differently (:func:`_unmapped`),
    nested nanos included, gives None. Nothing is memoized: each call
    reads the footer again."""
    uri = urlparse(path)
    if uri.scheme not in ("", "file"):
        return None
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type

        pf = pq.ParquetFile(uri.path or path)
        leaves = {c.path: c for c in pf.schema}
        fields = []
        for f in pf.schema_arrow:
            leaf = leaves.get(f.name)  # None for a nested column
            if leaf is not None and leaf.physical_type == "INT96":
                dt = T.TimestampType()
            elif (
                leaf is not None
                and leaf.physical_type == "INT64"
                and json.loads(leaf.logical_type.to_json()).get("timeUnit")
                == "nanoseconds"
            ):
                dt = T.LongType()
            elif _unmapped(f.type):
                return None
            else:
                dt = from_arrow_type(f.type, prefer_timestamp_ntz=True)
            fields.append(T.StructField(f.name, dt, True))
        return T.StructType(fields)
    except (ImportError, OSError, ValueError, TypeError):
        # no pyarrow, no readable footer (ArrowInvalid is a ValueError)
        # or an arrow type Spark has no mapping for → Spark's inference
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver-corpus table (columnar, pushdown-capable).

    The scan takes its schema from the file's footer
    (:func:`footer_schema`), so opening a table starts no
    schema-inference job. A remote, unreadable or directory path, or a
    footer type the mapping does not cover, falls back to Spark's own
    inference.

    ``events.ts`` stored as INT64 TIMESTAMP(NANOS) arrives as raw nanos
    (the footer schema reads it as LONG) and is truncated to
    microsecond TIMESTAMP_NTZ with exact integer arithmetic (``div
    1000`` — never double division, which loses sub-microsecond
    precision near 2^53). The micros are added to the NTZ epoch,
    because a TIMESTAMP → TIMESTAMP_NTZ cast would shift every value by
    the session time zone. No session conf is set: on the fallback
    path a nanos file raises [PARQUET_TYPE_ILLEGAL] rather than reading
    differently from the local path.
    """
    path = f"{sf_dir}/{name}.parquet"
    schema = footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            ),
        )
    return df


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
