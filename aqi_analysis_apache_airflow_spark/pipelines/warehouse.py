"""Parquet-backed warehouse: the engine's analog of the reference's
Postgres store.

The reference writes through SQLAlchemy into Postgres tables
(``dags/etl/models.py:15-20``). Here each table is a parquet directory
under a warehouse root. ``overwrite`` handles the read-modify-write
cycle the upserts need: Spark cannot lazily read and overwrite the same
path, so the new state is written to a staging dir and swapped in —
the batch analog of stage-and-swap. At production scale the swap is
replaced by an ACID table format (Delta/Iceberg) with a real MERGE;
the logical plans in :mod:`.stage_to_nds` are unchanged by that swap.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        # The swap and the table checks go through os.path, which reads
        # "file:///x" as a relative directory named "file:" while Spark
        # writes to /x; only a plain local path means the same to both.
        if urlparse(root).scheme:
            raise ValueError(f"warehouse root must be a local path: {root!r}")
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        return any(
            f.endswith(".parquet")
            for _, _, files in os.walk(p)
            for f in files
        )

    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        """Read a table; a missing table with a known schema reads as
        empty (the reference's freshly-created Postgres tables).

        With ``schema`` the read is schema-on-read: the declared
        StructType is trusted and no job runs to infer it from the
        parquet footers (Spark runs one per bare ``read.parquet``). The
        declaration must match what the pipelines write — a drifted
        column reads as NULL."""
        if not self.exists(table):
            if schema is None:
                raise FileNotFoundError(self.path(table))
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(table))

    def overwrite(self, df: DataFrame, table: str) -> None:
        """Stage-and-swap overwrite (safe even when ``df`` reads from
        ``table`` itself, as every upsert does)."""
        final = self.path(table)
        staging = final + ".staging"
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        df.write.mode("overwrite").parquet(staging)
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.replace(staging, final)

    def truncate(self, table: str) -> None:
        """S7: the reference truncates stage tables before reload
        (``dags/etl/source_to_stage.py:28-35``). With stage-and-swap
        overwrite this is only needed for explicit resets."""
        p = self.path(table)
        if os.path.isdir(p):
            shutil.rmtree(p)
