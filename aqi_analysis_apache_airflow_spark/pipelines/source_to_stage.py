"""source → stage: the Spark re-expression of
``dags/etl/source_to_stage.py:47-108``.

The reference loops files, materializes each year in pandas, renames,
coerces, CDC-filters, recategorizes, trims, then inserts row-at-a-time
ORM objects (``:79-84``). Here each load is ONE lazy DataFrame chain
ending in an atomic overwrite — no per-row anything, no per-file loop
(the glob scan splits files into tasks), and the truncate+reload pair
collapses into the overwrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import aqi_category
from ..operators.filters import cdc_window
from ..sources.readers import read_aqi_csv_glob, read_counties_csv
from .metadata import get_metadata
from .warehouse import Warehouse

#: EPA header → stage column map (``dags/etl/source_to_stage.py:55-68``),
#: incl. the lowercase-c ``county Name`` quirk.
AQI_RENAME = {
    "State Name": "state_name",
    "county Name": "county_name",
    "State Code": "state_code",
    "County Code": "county_code",
    "Date": "measured_date",
    "AQI": "aqi_value",
    "Category": "aqi_category",
    "Defining Parameter": "defining_parameter",
    "Defining Site": "defining_site",
    "Number of Sites Reporting": "num_of_sites_reporting",
    "Created": "created",
    "Last Updated": "last_updated",
}

#: uscounties.csv header → stage column map (``source_to_stage.py:92-98``).
COUNTIES_RENAME = {
    "county": "county_name",
    "county_full": "county_fullname",
    "lat": "latitude",
    "lng": "longitude",
    "population": "county_population",
}

AQI_STAGE = "state_aqi_stage"
COUNTIES_STAGE = "us_counties_stage"


def transform_aqi(raw: DataFrame, lset, cet) -> DataFrame:
    """The reference's per-file transform chain (``source_to_stage.py:55-75``):

    rename → ``measured_date = date(created)`` (OVERWRITING the renamed
    EPA ``Date`` — reference quirk at ``:70``, kept) → timestamp
    coercions → CDC filter [lset, cet] inclusive (``:73``) →
    recategorize AQI, overwriting the source ``Category`` (``:74``) →
    trim county names (``:75``).
    """
    df = raw.withColumnsRenamed(AQI_RENAME)
    df = (
        df.withColumn("created", F.to_timestamp("created"))
        .withColumn("last_updated", F.to_timestamp("last_updated"))
        .withColumn("measured_date", F.to_date("created"))
    )
    df = cdc_window(df, "last_updated", lset, cet)
    return df.withColumn("aqi_category", aqi_category(F.col("aqi_value"))).withColumn(
        "county_name", F.trim("county_name")
    )


def process_aqi_files(wh: Warehouse, source_dir: str) -> None:
    """``process_aqi_files`` (``source_to_stage.py:47-85``): glob-scan
    the yearly CSVs, transform, and (truncate+)overwrite the stage.

    An unseeded metadata row (the reference assumes one always exists
    and would crash on None bounds) degrades to an unbounded window —
    first run loads everything instead of nothing.
    """
    from datetime import datetime

    cet, lset = get_metadata(wh, AQI_STAGE)
    lset = lset or datetime(1970, 1, 1)
    cet = cet or datetime(9999, 1, 1)
    raw = read_aqi_csv_glob(wh.spark, source_dir)
    wh.overwrite(transform_aqi(raw, lset, cet), AQI_STAGE)


def transform_counties(raw: DataFrame) -> DataFrame:
    """``process_counties_file`` transform (``source_to_stage.py:92-99``)."""
    return raw.withColumnsRenamed(COUNTIES_RENAME).withColumn(
        "county_name", F.trim("county_name")
    )


def process_counties_file(wh: Warehouse, counties_csv: str) -> None:
    wh.overwrite(transform_counties(read_counties_csv(wh.spark, counties_csv)), COUNTIES_STAGE)

