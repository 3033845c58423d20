"""stage → NDS: the Spark re-expression of ``dags/etl/stage_to_nds.py``.

Every per-row ORM lookup in the reference dissolves into one set-based
MERGE (full-outer join + coalesce) per table:

- state upsert  (``stage_to_nds.py:9-47``):  keyed ``state_name``
- county upsert (``stage_to_nds.py:50-112``): keyed ``county_fips``
- county backfill dp1 (``:113-123``): AQI counties NOT IN county_nds
  (faithful NOT-IN null semantics)
- Windham patch dp2 (``:125-138``): AQI 'Windham' rows missing from the
  counties master
- measurement upsert (``:141-218``): keyed (measured_date,
  defining_site, defining_parameter)

dp1 and dp2 are the reference's two INSERT ... SELECTs of name-only
county rows. Here they are one append, written once after the county
upsert: the union of dp1's and dp2's (state_name, county_name) pairs,
resolved to (county_name, state_id_sk) with one DISTINCT, minus the
pairs county_nds already holds. That is the result of dp1 followed by
the idempotent dp2 below: dp1's names are absent from county_nds, so
the anti-join keeps them; a dp2 pair that dp1 also produced collapses
in the DISTINCT instead of being found in the table dp1 wrote; and the
NOT-IN NULL rule still empties only dp1.

Deliberate deviations, both in the name-only rows:

- The reference's dp2 NOT EXISTS checks only the counties MASTER,
  never county_nds, so it re-inserts the same Windham row on EVERY
  nightly run — unbounded duplicate growth. The anti-join against
  county_nds on (county_name, state_id_sk) makes the patch idempotent;
  first-run output is identical.
- The new rows are numbered together in (county_name, state_id_sk)
  order, where the reference numbers dp1's rows before dp2's. The two
  orders differ only when a load inserts a dp2 row and a dp1 county
  whose name sorts after "Windham".

The natural keys are ``schemas.NDS_NATURAL_KEYS`` and every read takes
its schema from ``schemas.TABLE_SCHEMAS``. The audit policy is stated
once, in ``_upsert``: an inserted row is stamped ``created_date_nds``,
``last_updated_nds`` and ``source_id``, and a matched row
``last_updated_nds``. The dp1/dp2 rows are inserts and take the same
insert stamps. Beyond that, a matched state updates nothing, a matched
county updates ``county_name``, and a matched measurement updates
``aqi_value``, ``aqi_category`` and also stamps ``last_updated`` to now
(not the source's value) — ``:151-154``.

Surrogate keys: existing rows keep theirs; new rows get
``current_max + row_number`` over a deterministic order
(``operators.surrogate.assign_missing_keys``). Both come from one
window over the merged rows — one exchange, one task, and Spark's
``No Partition Defined for Window operation!`` WARN — so each MERGE
stays one lazy plan that runs once, in its write, instead of a second
time for an eager max.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.filters import anti_join, not_in
from ..operators.dedupe import keep_first
from ..operators.merge import merge_upsert
from ..operators.surrogate import assign_missing_keys
from ..schemas import NDS_NATURAL_KEYS, TABLE_SCHEMAS
from .metadata import _now
from .source_to_stage import AQI_STAGE, COUNTIES_STAGE
from .warehouse import Warehouse

STATE_NDS = "state_nds"
COUNTY_NDS = "county_nds"
MEASUREMENT_NDS = "measurement_nds"


def _read(wh: Warehouse, table: str) -> DataFrame:
    return wh.read(table, TABLE_SCHEMAS[table])


def _insert_stamps(now: datetime) -> dict[str, object]:
    """Audit columns of an inserted NDS row (``stage_to_nds.py:21-28,66-77,156-169``)."""
    return {"created_date_nds": now, "last_updated_nds": now, "source_id": 1}


def _upsert(
    wh: Warehouse,
    table: str,
    source: DataFrame,
    now: datetime,
    key_col: str,
    update_cols: list[str],
    key_order: list[str] | None = None,
    set_on_match: dict[str, object] | None = None,
) -> None:
    """MERGE ``source`` into ``table`` on its natural key under the NDS
    audit policy — inserts take ``_insert_stamps``, matches move
    ``last_updated_nds`` (plus ``set_on_match``) to ``now`` — then number
    the new rows' ``key_col`` in ``key_order`` (default: the natural
    key) and write the table."""
    keys = NDS_NATURAL_KEYS[table]
    merged = merge_upsert(
        _read(wh, table),
        source,
        keys=keys,
        update_cols=update_cols,
        insert_only_cols=_insert_stamps(now),
        set_on_match={"last_updated_nds": now, **(set_on_match or {})},
    )
    wh.overwrite(assign_missing_keys(merged, key_col, key_order or keys), table)


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
    source = merged_state_source(_read(wh, AQI_STAGE), _read(wh, COUNTIES_STAGE))
    # match: only last_updated_nds moves (``stage_to_nds.py:17-19``)
    _upsert(wh, STATE_NDS, source, now or _now(), "state_id_sk", update_cols=[])


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
    source = merged_county_source(_read(wh, COUNTIES_STAGE), _read(wh, STATE_NDS))
    # match: only county_name + last_updated_nds (``stage_to_nds.py:63-65``)
    _upsert(
        wh,
        COUNTY_NDS,
        source,
        now,
        "county_id_sk",
        update_cols=["county_name"],
        key_order=["county_fips", "county_name"],
    )
    # dp1 + dp2 (S8): one INSERT ... SELECT of their union, numbered together
    county = _read(wh, COUNTY_NDS)
    pairs = backfill_counties_from_measurements(wh, county).unionByName(patch_windham(wh))
    src = anti_join(
        _name_only_counties(pairs, _read(wh, STATE_NDS), now),
        county,
        ["county_name", "state_id_sk"],
    )
    merged = assign_missing_keys(
        county.unionByName(src), "county_id_sk", ["county_name", "state_id_sk"]
    )
    wh.overwrite(merged, COUNTY_NDS)


def _name_only_counties(names: DataFrame, state: DataFrame, now: datetime) -> DataFrame:
    """County rows carrying only ``county_name`` and ``state_id_sk``
    (resolved from ``names``' state_name), one per pair, with the insert
    stamps; every other county_nds column is NULL, including
    ``county_id_sk``, which the append numbers."""
    rows = (
        names.join(F.broadcast(state.select("state_name", "state_id_sk")), "state_name")
        .select("county_name", "state_id_sk")
        .distinct()
    )
    cols = {c: F.lit(v) for c, v in _insert_stamps(now).items()}
    cols.update({c: F.col(c) for c in rows.columns})
    return rows.select(
        *[
            cols.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name)
            for f in TABLE_SCHEMAS[COUNTY_NDS].fields
        ]
    )


def backfill_counties_from_measurements(wh: Warehouse, county: DataFrame) -> DataFrame:
    """dp1 (``stage_to_nds.py:113-123``): the (county_name, state_name)
    pairs of AQI counties with measurements but absent from ``county``,
    to be inserted with ONLY county_name + state_id_sk (fips/geo/
    population stay NULL). Uses faithful NOT-IN semantics: a NULL
    county_name anywhere in ``county`` empties the result, exactly like
    the reference's SQL."""
    aqi = _read(wh, AQI_STAGE).select("county_name", "state_name")
    return not_in(aqi, "county_name", county, "county_name")


def patch_windham(wh: Warehouse) -> DataFrame:
    """dp2 (``stage_to_nds.py:125-138``): the (state_name, county_name)
    pairs of 'Windham' AQI rows missing from the counties master — the
    real master has Windham VT but CT's Windham is a planning region,
    so the CT rows need a patched county row."""
    windham = _read(wh, AQI_STAGE).filter(F.col("county_name") == "Windham")
    return anti_join(
        windham.select("state_name", "county_name"),
        _read(wh, COUNTIES_STAGE),
        ["state_name", "county_name"],
    )


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
    source = merged_measurement_source(
        _read(wh, AQI_STAGE), _read(wh, STATE_NDS), _read(wh, COUNTY_NDS)
    )
    # match: aqi_value + aqi_category from source, and last_updated moves
    # to now with last_updated_nds (``stage_to_nds.py:151-154``).
    # county_id_sk, created, num_of_sites_reporting keep their target values.
    _upsert(
        wh,
        MEASUREMENT_NDS,
        source,
        now,
        "measurement_id_sk",
        update_cols=["aqi_value", "aqi_category"],
        set_on_match={"last_updated": now},
    )
