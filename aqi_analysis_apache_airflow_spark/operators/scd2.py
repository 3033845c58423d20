"""SCD Type-2 upsert: history-preserving merge.

The reference's NDS is SCD Type-1 — updates overwrite in place and
history is lost (``dags/etl/stage_to_nds.py:17-19,63-65,151-154``).
``scd2_upsert`` is the history-preserving variant an auditable 100 TB
store wants: every change CLOSES the current version (sets
``valid_to`` and clears ``is_current``) and appends a new open
version, so any past state is reconstructable with
``valid_from <= t < valid_to``.

Plan shape: one key-partitioned join of the *current* slice against
the source (closed history rows pass through untouched — with the
table partitioned on ``is_current``, they are never even read), plus
a union of the new versions. Change detection compares only
``tracked_cols``, so a source row identical to the current version is
a no-op — re-running the same load twice changes nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def scd2_init(source: DataFrame, effective_ts) -> DataFrame:
    """First load: every row becomes an open version."""
    return (
        source.withColumn("valid_from", F.lit(effective_ts))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def scd2_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    tracked_cols: list[str],
    effective_ts,
) -> DataFrame:
    """Merge ``source`` (one row per key, no SCD2 columns) into an
    SCD2 ``target`` (source schema + valid_from/valid_to/is_current).

    - changed key: current version closed at ``effective_ts``, new
      open version appended;
    - new key: open version appended;
    - unchanged / absent-from-source keys: untouched.

    Presence on either side of the full-outer join is detected with
    explicit literal marker columns (as :func:`..merge.merge_upsert`
    does), never by key-null checks — a source row whose key IS NULL
    still matches via ``eqNullSafe`` and must not be silently dropped.
    """
    if not tracked_cols:
        raise ValueError(
            "scd2_upsert: tracked_cols must be non-empty — with nothing "
            "tracked no change can ever be detected; use a plain append "
            "for insert-only loads"
        )
    history = target.filter(~F.col("is_current"))
    current = target.filter(F.col("is_current")).withColumn(
        "__tgt_present", F.lit(True)
    )

    src = source.select(
        *[F.col(k).alias(f"__s_{k}") for k in keys],
        *[
            F.col(c).alias(f"__s_{c}")
            for c in source.columns
            if c not in keys
        ],
        F.lit(True).alias("__src_present"),
    )
    cond = [current[k].eqNullSafe(src[f"__s_{k}"]) for k in keys]
    joined = current.join(src, on=cond, how="full_outer")

    src_present = F.col("__src_present").isNotNull()
    tgt_present = F.col("__tgt_present").isNotNull()

    # "matched" when both sides present; "changed" when any tracked
    # column differs (null-safe compare)
    matched = src_present & tgt_present
    diff = None
    for c in tracked_cols:
        neq = ~current[c].eqNullSafe(F.col(f"__s_{c}"))
        diff = neq if diff is None else (diff | neq)
    changed = matched & diff

    # 1) surviving current rows: closed if changed, else untouched
    kept_current = joined.filter(tgt_present).select(
        *[current[c] for c in target.columns if c not in ("valid_to", "is_current")],
        F.when(changed, F.lit(effective_ts)).otherwise(current["valid_to"]).alias(
            "valid_to"
        ),
        F.when(changed, F.lit(False)).otherwise(current["is_current"]).alias(
            "is_current"
        ),
    )

    # 2) new open versions: changed keys + brand-new keys
    is_new_key = ~tgt_present & src_present
    new_versions = joined.filter(changed | is_new_key).select(
        *[F.col(f"__s_{k}").alias(k) for k in keys],
        *[
            F.col(f"__s_{c}").alias(c)
            for c in source.columns
            if c not in keys
        ],
        F.lit(effective_ts).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )

    return history.unionByName(kept_current).unionByName(new_versions)
