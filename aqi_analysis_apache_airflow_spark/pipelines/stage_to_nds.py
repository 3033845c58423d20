"""stage → NDS: the Spark re-expression of ``dags/etl/stage_to_nds.py``.

Every per-row ORM lookup in the reference dissolves into one set-based
MERGE (full-outer join + coalesce) per table:

- state upsert  (``stage_to_nds.py:9-47``):  keyed ``state_name``
- county upsert (``stage_to_nds.py:50-112``): keyed ``county_fips``
- county backfill dp1 (``:113-123``): AQI counties NOT IN county_nds
  (faithful NOT-IN null semantics)
- Windham patch dp2 (``:125-138``): AQI 'Windham' rows missing from the
  counties master, appended AFTER dp1 — the reference relies on the
  VT/CT name collision to make dp1 skip Windham, so ORDER MATTERS
- measurement upsert (``:141-218``): keyed (measured_date,
  defining_site, defining_parameter)

Update semantics are replicated exactly: a matched state updates ONLY
``last_updated_nds``; a matched county updates ONLY ``county_name`` +
``last_updated_nds``; a matched measurement updates ``aqi_value``,
``aqi_category`` and stamps BOTH ``last_updated_nds`` and
``last_updated`` to now (not the source's value) — ``:151-154``.

Surrogate keys: existing rows keep theirs; new rows get
``current_max + row_number`` over a deterministic order
(``operators.surrogate.assign_missing_keys``). Both come from one
window over the merged rows — one exchange, one task, and Spark's
``No Partition Defined for Window operation!`` WARN — so each MERGE
stays one lazy plan that runs once, in its write, instead of a second
time for an eager max.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.filters import anti_join, not_in
from ..operators.dedupe import keep_first
from ..operators.merge import merge_upsert
from ..operators.surrogate import assign_missing_keys
from ..schemas import (
    COUNTY_NDS_SCHEMA,
    MEASUREMENT_NDS_SCHEMA,
    STATE_AQI_STAGE_SCHEMA,
    STATE_NDS_SCHEMA,
    US_COUNTIES_STAGE_SCHEMA,
)
from .source_to_stage import AQI_STAGE, COUNTIES_STAGE
from .warehouse import Warehouse

STATE_NDS = "state_nds"
COUNTY_NDS = "county_nds"
MEASUREMENT_NDS = "measurement_nds"


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


# --------------------------------------------------------------------------
# state_nds
# --------------------------------------------------------------------------


def merged_state_source(aqi_stage: DataFrame, counties_stage: DataFrame) -> DataFrame:
    """``get_merged_state_data`` source (``stage_to_nds.py:35-45``):
    distinct state sets from both stages, full-outer on state_name."""
    a = aqi_stage.select("state_name", "state_code").distinct()
    c = counties_stage.select("state_name", "state_id").distinct()
    return c.join(a, on="state_name", how="full_outer")


def upsert_states(wh: Warehouse, now: datetime | None = None) -> None:
    now = now or _now()
    target = wh.read(STATE_NDS, STATE_NDS_SCHEMA)
    source = merged_state_source(
        wh.read(AQI_STAGE, STATE_AQI_STAGE_SCHEMA),
        wh.read(COUNTIES_STAGE, US_COUNTIES_STAGE_SCHEMA),
    )
    merged = merge_upsert(
        target,
        source,
        keys=["state_name"],
        # match: only last_updated_nds moves (``stage_to_nds.py:17-19``)
        update_cols=[],
        set_on_match={"last_updated_nds": now},
        insert_only_cols={
            "created_date_nds": now,
            "last_updated_nds": now,
            "source_id": 1,
        },
    )
    merged = assign_missing_keys(merged, "state_id_sk", ["state_name"])
    wh.overwrite(merged, STATE_NDS)


# --------------------------------------------------------------------------
# county_nds
# --------------------------------------------------------------------------


def merged_county_source(counties_stage: DataFrame, state_nds: DataFrame) -> DataFrame:
    """``get_merged_county_data`` source (``stage_to_nds.py:87-106``):
    distinct counties ⋈ state_nds (broadcast dim) for FK resolution.
    state_id_sk is unique, so the dim projection needs no DISTINCT."""
    c = counties_stage.select(
        "county_name",
        "county_fips",
        "state_name",
        "county_fullname",
        "latitude",
        "longitude",
        "county_population",
    ).distinct()
    s = state_nds.select("state_id_sk", "state_name")
    return c.join(F.broadcast(s), on="state_name", how="inner").drop("state_name")


def upsert_counties(wh: Warehouse, now: datetime | None = None) -> None:
    now = now or _now()
    target = wh.read(COUNTY_NDS, COUNTY_NDS_SCHEMA)
    source = merged_county_source(
        wh.read(COUNTIES_STAGE, US_COUNTIES_STAGE_SCHEMA),
        wh.read(STATE_NDS, STATE_NDS_SCHEMA),
    )
    merged = merge_upsert(
        target,
        source,
        keys=["county_fips"],
        # match: only county_name + last_updated_nds (``stage_to_nds.py:63-65``)
        update_cols=["county_name"],
        set_on_match={"last_updated_nds": now},
        insert_only_cols={
            "created_date_nds": now,
            "last_updated_nds": now,
            "source_id": 1,
        },
    )
    merged = assign_missing_keys(merged, "county_id_sk", ["county_fips", "county_name"])
    wh.overwrite(merged, COUNTY_NDS)
    backfill_counties_from_measurements(wh, now)
    patch_windham(wh, now)


def backfill_counties_from_measurements(wh: Warehouse, now: datetime | None = None) -> None:
    """dp1 (``stage_to_nds.py:113-123``): AQI counties with measurements
    but absent from county_nds — inserted with ONLY county_name +
    state_id_sk (fips/geo/population stay NULL). Uses faithful NOT-IN
    semantics: a NULL county_name anywhere in county_nds empties the
    insert, exactly like the reference's SQL."""
    now = now or _now()
    county = wh.read(COUNTY_NDS, COUNTY_NDS_SCHEMA)
    aqi = wh.read(AQI_STAGE, STATE_AQI_STAGE_SCHEMA)
    state = wh.read(STATE_NDS, STATE_NDS_SCHEMA)
    src = (
        not_in(aqi.select("county_name", "state_name"), "county_name", county, "county_name")
        .join(F.broadcast(state.select("state_name", "state_id_sk")), "state_name")
        .select("county_name", "state_id_sk")
        .distinct()
        .withColumn("created_date_nds", F.lit(now))
        .withColumn("last_updated_nds", F.lit(now))
        .withColumn("source_id", F.lit(1))
    )
    _append_partial_counties(wh, county, src)


def patch_windham(wh: Warehouse, now: datetime | None = None) -> None:
    """dp2 (``stage_to_nds.py:125-138``): 'Windham' AQI rows whose
    (state_name, county_name) is missing from the counties master —
    the real master has Windham VT but CT's Windham is a planning
    region, so the CT rows need a patched county row.

    Deliberate deviation: the reference's NOT EXISTS checks only the
    counties MASTER, never county_nds, so it re-inserts the same
    Windham row on EVERY nightly run — unbounded duplicate growth. An
    anti-join against county_nds on (county_name, state_id_sk) makes
    the patch idempotent; first-run output is identical."""
    now = now or _now()
    county = wh.read(COUNTY_NDS, COUNTY_NDS_SCHEMA)
    aqi = wh.read(AQI_STAGE, STATE_AQI_STAGE_SCHEMA)
    state = wh.read(STATE_NDS, STATE_NDS_SCHEMA)
    counties_stage = wh.read(COUNTIES_STAGE, US_COUNTIES_STAGE_SCHEMA)
    src = (
        anti_join(
            aqi.filter(F.col("county_name") == "Windham").select(
                "state_name", "county_name"
            ),
            counties_stage,
            ["state_name", "county_name"],
        )
        .join(F.broadcast(state.select("state_name", "state_id_sk")), "state_name")
        .select("county_name", "state_id_sk")
        .distinct()
        .withColumn("created_date_nds", F.lit(now))
        .withColumn("last_updated_nds", F.lit(now))
        .withColumn("source_id", F.lit(1))
    )
    src = anti_join(src, county, ["county_name", "state_id_sk"])
    _append_partial_counties(wh, county, src)


def _append_partial_counties(wh: Warehouse, county: DataFrame, src: DataFrame) -> None:
    """INSERT ... SELECT (S8): align the partial row to the full schema,
    assign fresh surrogate keys, and append via stage-and-swap."""
    for f in COUNTY_NDS_SCHEMA.fields:
        if f.name not in src.columns:
            src = src.withColumn(f.name, F.lit(None).cast(f.dataType))
    src = src.select(*[f.name for f in COUNTY_NDS_SCHEMA.fields])
    merged = assign_missing_keys(
        county.unionByName(src), "county_id_sk", ["county_name", "state_id_sk"]
    )
    wh.overwrite(merged, COUNTY_NDS)


# --------------------------------------------------------------------------
# measurement_nds
# --------------------------------------------------------------------------


def merged_measurement_source(
    aqi_stage: DataFrame, state_nds: DataFrame, county_nds: DataFrame
) -> DataFrame:
    """``get_merged_measurement_data`` source (``stage_to_nds.py:179-211``):
    state ⋈ county on the surrogate key (both broadcast-size dims),
    then AQI ⋈ on (state_name, county_name), then keep-first dedup on
    the measurement natural key. The reference's keep-first depends on
    pandas row order; we order deterministically by (created,
    last_updated, county_id_sk). Keep-first also drops exact duplicate
    AQI rows, and the dim projections carry their unique surrogate
    keys, so no DISTINCT (and no extra exchange) precedes either join."""
    s = state_nds.select("state_id_sk", "state_name")
    c = county_nds.select("county_id_sk", "state_id_sk", "county_name")
    dims = s.join(c, on="state_id_sk", how="inner")
    a = aqi_stage.select(
        "county_name",
        "state_name",
        "measured_date",
        "aqi_value",
        "aqi_category",
        "defining_parameter",
        "defining_site",
        "num_of_sites_reporting",
        "created",
        "last_updated",
    )
    joined = a.join(F.broadcast(dims), on=["state_name", "county_name"], how="inner")
    return keep_first(
        joined,
        keys=["measured_date", "defining_parameter", "defining_site"],
        order_by=["created", "last_updated", "county_id_sk"],
    ).drop("state_name", "county_name")


def upsert_measurements(wh: Warehouse, now: datetime | None = None) -> None:
    now = now or _now()
    target = wh.read(MEASUREMENT_NDS, MEASUREMENT_NDS_SCHEMA)
    source = merged_measurement_source(
        wh.read(AQI_STAGE, STATE_AQI_STAGE_SCHEMA),
        wh.read(STATE_NDS, STATE_NDS_SCHEMA),
        wh.read(COUNTY_NDS, COUNTY_NDS_SCHEMA),
    )
    merged = merge_upsert(
        target,
        source,
        keys=["measured_date", "defining_site", "defining_parameter"],
        # match: aqi_value + aqi_category from source; BOTH audit stamps
        # move to now (``stage_to_nds.py:151-154``). county_id_sk,
        # created, num_of_sites_reporting keep their target values.
        update_cols=["aqi_value", "aqi_category"],
        set_on_match={"last_updated_nds": now, "last_updated": now},
        insert_only_cols={
            "created_date_nds": now,
            "last_updated_nds": now,
            "source_id": 1,
        },
    )
    merged = assign_missing_keys(
        merged,
        "measurement_id_sk",
        ["measured_date", "defining_site", "defining_parameter"],
    )
    wh.overwrite(merged, MEASUREMENT_NDS)


def run_stage_to_nds(wh: Warehouse, now: datetime | None = None) -> None:
    """The stage_to_nds task chain (``dags/etl/main.py:68-84``):
    states → counties (+ dp1 + dp2) → measurements."""
    upsert_states(wh, now)
    upsert_counties(wh, now)
    upsert_measurements(wh, now)
