"""Deterministic keep-first dedup (reference op A3, SURVEY.md §2.5).

The reference's ``drop_duplicates(subset=[...])``
(``dags/etl/stage_to_nds.py:211``) keeps the FIRST row in pandas
iteration order — an order that exists because pandas is single-node.
Spark's ``dropDuplicates`` keeps an *arbitrary* row per key, which is
non-deterministic across runs/partitionings. :func:`keep_first` makes
the choice explicit and deterministic with a row_number window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keep_first(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column | str],
    pre_partition: bool = False,
) -> DataFrame:
    """A3: deterministic keep-first dedup.

    One row per ``keys`` group, the first under ``order_by`` (which must
    be a total order within the group for full determinism). One shuffle
    on ``keys`` either way; the window is per-group, never global.

    ``pre_partition`` trades shuffle volume for parallelism: the default
    plan partial-sorts + rank-limits per INPUT partition before the
    exchange (map-side reduction — right for high-duplicate data, and
    right at 100 TB where inputs have many splits). With few input
    splits and mostly-unique keys that partial sort serializes on few
    tasks; ``pre_partition=True`` hash-repartitions on ``keys`` first so
    the sort parallelizes across ``spark.sql.shuffle.partitions`` (3×
    faster on the single-row-group bench corpus).
    """
    if pre_partition:
        df = df.repartition(
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")), *keys
        )
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
