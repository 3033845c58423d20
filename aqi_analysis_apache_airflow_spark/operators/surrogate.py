"""Surrogate-key assignment.

The reference gets surrogate keys for free from Postgres identity
columns (``state_id_sk`` etc., created implicitly on insert —
``dags/etl/stage_to_nds.py:21-28,66-77,156-169``). Distributed engines
have no cheap gap-free counter, so new rows are numbered explicitly:
``row_number()`` over a deterministic order, offset by the current max
key. Gap-free and reproducible.

The row number, the max and the count of existing keys come from one
window with no partition key, so the plan holds one ``WindowExec``
behind one exchange and every row of the merged table passes through
one task — fine for dimension tables and nightly deltas, wrong for a
bulk fact load at scale. Spark logs ``No Partition Defined for Window
operation!`` for it; the warning is accurate and is left on. A constant
``partitionBy`` does not avoid it: Catalyst drops it.

The offset is part of the plan, never an eager ``max().first()``: that
action would re-run the whole MERGE feeding it just to read one number.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def assign_missing_keys(
    df: DataFrame, key_col: str, order_by: list[Column | str]
) -> DataFrame:
    """Give rows of ``df`` whose ``key_col`` is NULL the keys
    ``max(key_col) + 1, + 2, …`` in ``order_by`` order; other rows keep
    theirs.

    ``df`` is the merged table, so its max is the target's: new rows
    carry NULL. Existing rows sort first, the order the table is written
    in, so ``count(key)`` comes off each new row's number."""
    key = F.col(key_col)
    w = Window.orderBy(key.isNull(), *order_by)
    everything = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    offset = F.coalesce(F.max(key).over(everything), F.lit(0)) - F.count(key).over(everything)
    return df.withColumn(
        key_col, F.when(key.isNull(), F.row_number().over(w) + offset).otherwise(key)
    )
