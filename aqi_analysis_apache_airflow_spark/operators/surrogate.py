"""Surrogate-key assignment.

The reference gets surrogate keys for free from Postgres identity
columns (``state_id_sk`` etc., created implicitly on insert —
``dags/etl/stage_to_nds.py:21-28,66-77,156-169``). Distributed engines
have no cheap gap-free counter, so new rows are numbered explicitly:
``row_number()`` over a deterministic order, offset by the current max
key. Gap-free and reproducible; the window partitions only on "key is
NULL", so the new rows funnel through one task — fine for dimension
tables and nightly deltas, wrong for a bulk fact load at scale.

The offset is part of the plan, never an eager ``max().first()``: that
action would re-run the whole MERGE feeding it just to read one number.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def assign_missing_keys(
    df: DataFrame, key_col: str, order_by: list[Column | str], existing: DataFrame
) -> DataFrame:
    """Give rows of ``df`` whose ``key_col`` is NULL the keys
    ``max(existing) + 1, + 2, …`` in ``order_by`` order; other rows keep
    theirs.

    ``existing`` is the table the rows are merged into. New rows carry
    NULL keys, so its max equals the max over ``df``; the one-row
    ``coalesce(max, 0)`` is broadcast and cross-joined, which keeps the
    whole numbering lazy."""
    offset = existing.agg(F.coalesce(F.max(key_col), F.lit(0)).alias("__sk_offset"))
    w = Window.partitionBy(F.col(key_col).isNull()).orderBy(*order_by)
    return (
        df.crossJoin(F.broadcast(offset))
        .withColumn(
            key_col,
            F.when(
                F.col(key_col).isNull(), F.row_number().over(w) + F.col("__sk_offset")
            ).otherwise(F.col(key_col)),
        )
        .drop("__sk_offset")
    )
