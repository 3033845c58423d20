"""Filters / predicates (reference ops F1-F7, SURVEY.md §2.3).

All set-based; the reference's per-row point lookups
(``dags/etl/stage_to_nds.py:16,61,145-149``) dissolve into the
join-based upsert in :mod:`.merge` and never appear here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cdc_window(df: DataFrame, ts_col: str, lset, cet) -> DataFrame:
    """F1: the incremental-extract heart of the reference pipeline.

    Keep rows whose ``ts_col`` falls in ``[lset, cet]`` — inclusive on
    BOTH ends, exactly as ``dags/etl/source_to_stage.py:73``. Rows with
    ``ts_col < lset`` (late arrivals) are dropped, faithfully to the
    reference; the streaming surface replaces this with a real
    watermark. The predicate is a plain range filter, so Catalyst
    pushes it into a parquet scan (min/max row-group skipping) and,
    when the table is partitioned by a date derived from ``ts_col``,
    prunes partitions — at 100 TB this is the difference between a
    full scan and reading one day.
    """
    return df.filter(F.col(ts_col).between(F.lit(lset), F.lit(cet)))


def not_in(df: DataFrame, col: str, sub: DataFrame, sub_col: str) -> DataFrame:
    """F4: SQL ``NOT IN`` with faithful null semantics.

    The reference's ``NOT IN`` subquery (``dags/etl/stage_to_nds.py:120``)
    has SQL three-valued logic, which differs from a bare ``left_anti``
    join (``NOT EXISTS`` semantics) in two places:

    - if the subquery yields ANY null, the predicate is never true and
      ZERO rows survive;
    - a probe row whose ``col`` IS NULL survives the anti join (null
      matches nothing) but SQL evaluates ``NULL NOT IN (non-empty
      set)`` to unknown — the row is kept only when the subquery is
      EMPTY (``NULL NOT IN ()`` is vacuously true).

    Both guards come from the same 1-row aggregate, broadcast onto the
    anti-join output — no extra shuffle.
    """
    flags = sub.select(
        F.max(F.col(sub_col).isNull().cast("int")).alias("__has_null"),
        F.count(F.lit(1)).alias("__sub_count"),
    )
    anti = df.join(
        sub.select(F.col(sub_col).alias(col)).distinct(), on=col, how="left_anti"
    )
    return (
        anti.join(F.broadcast(flags))
        .filter(
            ((F.col("__has_null").isNull()) | (F.col("__has_null") == 0))
            & (F.col(col).isNotNull() | (F.col("__sub_count") == 0))
        )
        .drop("__has_null", "__sub_count")
    )


def anti_join(df: DataFrame, other: DataFrame, keys: list[str]) -> DataFrame:
    """F5: composite-key ``NOT EXISTS`` (``dags/etl/stage_to_nds.py:132-135``)."""
    return df.join(other.select(*keys).distinct(), on=keys, how="left_anti")
