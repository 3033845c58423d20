"""Two-table as-of join (Spark has no native operator).

``asof_join(left, right, ...)``: for each left row, attach the columns
of the LATEST right row with ``right.ts <= left.ts`` for the same key —
the point-in-time lookup at the heart of feature stores and
slowly-changing reference data.

Implementation is the union-tag pattern, pure DataFrame ops:

1. tag both sides and union them on (key, ts);
2. one ordered window per key: ``last(right-cols, ignorenulls=True)``
   carries the most recent right values forward onto every row;
3. keep the left-tagged rows.

Cost: ONE shuffle on the key (the window sort) — compare a naive range
join (quadratic blowup) or per-key ``applyInPandas`` + ``merge_asof``
(Python in the hot path). Ties (right.ts == left.ts): the right row
sorts first, so an exactly-simultaneous right row IS visible — the
conventional `<=` as-of semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Backward as-of join that attaches the right columns
    ``value_cols``. A value_col that collides with a non-key left
    column would silently produce a duplicate output column name
    (ambiguous downstream) — refused up front."""
    collisions = {c for c in value_cols if c in left.columns and c not in keys}
    if collisions:
        raise ValueError(
            f"asof_join: right value_cols {sorted(collisions)} collide with "
            "left column names — rename one side (e.g. "
            "right.withColumnRenamed)"
        )

    l_tagged = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in value_cols],
        F.struct(*[c for c in left.columns if c not in keys]).alias("__l"),
    )
    r_tagged = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        F.lit(None)
        .cast(
            "struct<"
            + ",".join(
                f"{c}:{dict(left.dtypes)[c]}" for c in left.columns if c not in keys
            )
            + ">"
        )
        .alias("__l"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    # right rows sort before left rows at equal ts → `<=` semantics
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *keys,
        "__ts",
        "__is_left",
        "__l",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__rv_{c}")
            for c in value_cols
        ],
    )
    out = carried.filter(F.col("__is_left") == 1).select(
        *keys,
        F.col("__ts").alias(left_ts),
        *[F.col(f"__l.{c}").alias(c) for c in left.columns if c not in {*keys, left_ts}],
        *[F.col(f"__rv_{c}").alias(c) for c in value_cols],
    )
    return out


def asof_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """The cogrouped-pandas twin of :func:`asof_join`:
    ``left.groupBy(keys).cogroup(right.groupBy(keys))`` hands each
    key's two slices to one ``pd.merge_asof`` call.

    Same semantics (backward, exact-ts match visible, tested equal);
    different physics — both sides shuffle on the key and the merge
    runs in Python per group. Use it when the per-group logic outgrows
    window expressions (interpolation, tolerance bands, multi-column
    nearest); for the plain backward join the union-tag form above is
    the faster JVM-only path.
    """
    collisions = {c for c in value_cols if c in left.columns and c not in keys}
    if collisions:
        raise ValueError(
            f"asof_join_cogrouped: value_cols {sorted(collisions)} collide "
            "with left column names"
        )
    ldt = dict(left.dtypes)
    rdt = dict(right.dtypes)
    schema = ", ".join(
        [f"{k} {ldt[k]}" for k in keys]
        + [f"{c} {ldt[c]}" for c in left.columns if c not in keys]
        + [f"{c} {rdt[c]}" for c in value_cols]
    )

    def merge(lpdf, rpdf):
        import pandas as pd

        lpdf = lpdf.sort_values(left_ts, kind="mergesort")
        if lpdf.empty:
            return lpdf.iloc[0:0].reindex(
                columns=[*lpdf.columns, *value_cols]
            )
        if rpdf.empty:
            out = lpdf.copy()
            for c in value_cols:
                out[c] = None
            return out
        # avoid a column-name clash when both ts columns share a name
        # (pandas would suffix them and break the schema contract)
        rts = right_ts if right_ts != left_ts else "__rts"
        rsub = rpdf[[right_ts, *value_cols]].rename(columns={right_ts: rts})
        rsub = rsub.sort_values(rts, kind="mergesort")
        merged = pd.merge_asof(
            lpdf,
            rsub,
            left_on=left_ts,
            right_on=rts,
            direction="backward",
        )
        return merged.drop(columns=[rts])

    return (
        left.groupBy(*keys)
        .cogroup(right.groupBy(*keys))
        .applyInPandas(merge, schema)
    )
