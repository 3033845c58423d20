"""Join-based upsert / MERGE (reference op J6, SURVEY.md §2.4).

The reference upserts row-at-a-time: a keyed ``SELECT ... LIMIT 1`` per
row, then mutate-or-insert (state ``dags/etl/stage_to_nds.py:9-32``,
county ``:50-81``, measurement ``:141-176``), batched at 10k rows
(``:213-216``). That is N+1 lookups and O(rows) round-trips.

Here MERGE is ONE full-outer join on the natural key plus column-wise
``coalesce`` — a single shuffle (or zero, when both sides are bucketed
on the key; broadcast when the source is small). Semantics:

- key in both      → source values win for ``update_cols``; the
                     target's ``created``-style columns survive;
                     ``set_on_match`` constants are stamped.
- key only in src  → insert (all source values), with the
                     ``insert_only_cols`` constants stamped.
- key only in tgt  → row kept untouched.

The stamps are not a second pass: each output column is one expression
over the join, so the merged table is one projection.

This matches Delta's ``MERGE INTO ... WHEN MATCHED UPDATE SET ... WHEN
NOT MATCHED INSERT *`` for the no-predicate case. Delta/Iceberg jars
are not in this image, so the vanilla-Spark plan is the primary
implementation, not a fallback. At 100 TB the write side should be an
ACID table format (Delta/Iceberg MERGE INTO) for atomicity; the logical
plan — one key-partitioned join — is the same.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_col(v: object) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    insert_only_cols: dict[str, object] | None = None,
    set_on_match: dict[str, object] | None = None,
    assert_unique_source: bool = False,
) -> DataFrame:
    """Return the merged table: target upserted with source.

    ``update_cols`` — columns the source overwrites on match (default:
    every non-key column present in both sides). ``insert_only_cols`` —
    constants applied only to inserted rows (e.g. ``created_date_nds``).
    ``set_on_match`` — constants applied only to matched rows (the
    reference stamps ``last_updated_nds``/``last_updated`` to *now* on
    update — ``dags/etl/stage_to_nds.py:151-154`` — rather than taking
    the source's value). Both maps name target columns; a column in
    either map takes its constant inside that column's one expression,
    so the output keeps the target's column order and types.

    The source must be unique per key (callers dedupe first, as the
    reference does via ``drop_duplicates`` at ``stage_to_nds.py:211``);
    a duplicate-key source would fan out the join — each target row
    matching k source rows appears k times in the output.
    ``assert_unique_source=True`` makes that a loud job failure instead
    of silent duplication: a window count over the merge keys feeds
    ``assert_true`` behind a filter (a filter cannot be pruned away,
    unlike an unused projected column). Opt-in because the check costs
    one extra shuffle of the source — cheap insurance for a nightly
    MERGE, wrong as an always-on tax when the caller just deduped.
    """
    if assert_unique_source:
        from pyspark.sql import Window

        kn = F.count("*").over(Window.partitionBy(*keys))
        source = source.withColumn("__kn", kn).filter(
            F.assert_true(
                F.col("__kn") == 1,
                F.concat(
                    F.lit("merge_upsert: duplicate source key ("),
                    F.concat_ws(
                        ", ", *[F.col(k).cast("string") for k in keys]
                    ),
                    F.lit(") — dedupe the source first"),
                ),
            ).isNull()
        ).drop("__kn")
    if update_cols is None:
        tcols = set(target.columns)
        update_cols = [c for c in source.columns if c not in keys and c in tcols]

    src_cols = source.columns
    src = source.select(
        *[F.col(c).alias(f"__src_{c}") for c in src_cols],
        F.lit(1).alias("__src_present"),
    )
    # presence markers, NOT key-null checks: keys may legitimately be
    # NULL (e.g. backfilled county rows without a fips), and a null key
    # must read as "row exists with a null key", not "no row".
    tgt = target.withColumn("__tgt_present", F.lit(1))
    cond = [tgt[k].eqNullSafe(src[f"__src_{k}"]) for k in keys]
    joined = tgt.join(src, on=cond, how="full_outer")

    matched_src = F.col("__src_present").isNotNull()
    in_target = F.col("__tgt_present").isNotNull()
    insert_only_cols = insert_only_cols or {}
    set_on_match = set_on_match or {}

    def merged(c: str) -> Column:
        if c in keys:
            out = F.coalesce(tgt[c], F.col(f"__src_{c}"))
        elif c in update_cols and c in src_cols:
            # matched or insert → source value; target-only → target value
            out = F.when(matched_src, F.col(f"__src_{c}")).otherwise(tgt[c])
        elif c in src_cols:
            # non-updatable column (e.g. created): keep target on match,
            # take source only for brand-new keys
            out = F.when(in_target, tgt[c]).otherwise(F.col(f"__src_{c}"))
        else:
            out = tgt[c]
        if c in insert_only_cols:
            out = F.when(~in_target, _as_col(insert_only_cols[c])).otherwise(out)
        if c in set_on_match:
            out = F.when(in_target & matched_src, _as_col(set_on_match[c])).otherwise(out)
        return out.alias(c)

    return joined.select(*[merged(c) for c in target.columns])
