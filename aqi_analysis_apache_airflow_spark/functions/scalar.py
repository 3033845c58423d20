"""Scalar functions (reference ops X1-X4, SURVEY.md §2.6).

The reference's only nontrivial scalar is ``modify_category``
(``dags/etl/source_to_stage.py:110-125``), applied row-at-a-time via
``Series.apply`` (``source_to_stage.py:74``). Here it is a chained
``when`` column expression — pure Catalyst, whole-stage-codegen'd, no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: (lo, hi, label) buckets exactly as ``modify_category``
#: (``dags/etl/source_to_stage.py:110-125``). The integer-bounded
#: closed ranges leave gaps for non-integer inputs (e.g. 50.5) and the
#: final ``else`` maps them — and negatives — to ``Unknown``. That gap
#: behavior is part of the reference contract and is replicated, not fixed.
AQI_BUCKETS = (
    (0, 50, "Good"),
    (51, 100, "Moderate"),
    (101, 150, "Unhealthy for Sensitive Groups"),
    (151, 200, "Unhealthy"),
    (201, 300, "Very Unhealthy"),
)
AQI_HAZARDOUS_ABOVE = 300


def aqi_category(aqi: Column) -> Column:
    """6-bucket AQI categorization, faithful to ``modify_category``.

    The reference *recomputes* the category and overwrites the source
    ``Category`` column (``source_to_stage.py:74``); callers should do
    the same.
    """
    expr = None
    for lo, hi, label in AQI_BUCKETS:
        cond = (aqi >= F.lit(lo)) & (aqi <= F.lit(hi))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    return expr.when(aqi > F.lit(AQI_HAZARDOUS_ABOVE), F.lit("Hazardous")).otherwise(
        F.lit("Unknown")
    )


def aqi_category_sql(col_expr: str) -> str:
    """ANSI-SQL twin of :func:`aqi_category` for the DuckDB oracle."""
    whens = "\n".join(
        f"WHEN {col_expr} >= {lo} AND {col_expr} <= {hi} THEN '{label}'"
        for lo, hi, label in AQI_BUCKETS
    )
    return (
        f"CASE {whens}\n"
        f"WHEN {col_expr} > {AQI_HAZARDOUS_ABOVE} THEN 'Hazardous'\n"
        f"ELSE 'Unknown' END"
    )

