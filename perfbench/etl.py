"""The ``etl_nightly`` workload: the reference DAG's nightly write path.

The warm-up loads one backfill (~40k source rows); one op is one
night, whose CDC window advances a day and picks up ~1k rows (~80% new
natural keys, ~20% restatements of loaded keys). The delta is ~3% of
the target, so per-job fixed costs, metadata round trips, the full CSV
re-scan and the stage-and-swap rewrites of county_nds and
measurement_nds dominate, while the bulk insert path runs once, in the
seed backfill.

The steps run in ``dag_etl_aqi.TOPOLOGY`` order through the pipeline
modules' public functions, with explicit timestamps (the CET of the
load) instead of the wall clock. The warehouse is checked after every
op against :class:`aqi_source.NdsModel` by reading the parquet with
DuckDB, never through the program.
"""

from __future__ import annotations

import glob
import os

import duckdb

from aqi_analysis_apache_airflow_spark.pipelines import dag_etl_aqi, metadata
from aqi_analysis_apache_airflow_spark.pipelines import source_to_stage as s2s
from aqi_analysis_apache_airflow_spark.pipelines import stage_to_nds as s2n
from aqi_analysis_apache_airflow_spark.pipelines.warehouse import Warehouse
from aqi_analysis_apache_airflow_spark.sources import readers

import aqi_source
from aqi_source import NdsModel, Window

BACKFILL_ROWS = 40_000
ROWS_PER_NIGHT = 1_000
#: More nights than any run plays, so a run never runs out of input.
NIGHTS = 6
NDS_TABLES = (s2n.STATE_NDS, s2n.COUNTY_NDS, s2n.MEASUREMENT_NDS)


def dag_task_ids() -> list[str]:
    """Task ids in dependency order: each group's chains in turn."""
    out = []
    for group in dag_etl_aqi.GROUP_ORDER:
        body = dag_etl_aqi.TOPOLOGY[group]
        for chain in body.values() if isinstance(body, dict) else [body]:
            out.extend(chain)
    return out


def run_dag(wh: Warehouse, src: aqi_source.AqiSource, w: Window) -> None:
    """One DAG pass loading window ``w``: stamps CET and LSET at ``w.cet``
    and uses it as every upsert's ``now``. Functions are looked up on
    their modules at call time, so traced runs see the wrapped ones."""
    aqi, cty, at = s2s.AQI_STAGE, s2s.COUNTIES_STAGE, w.cet
    calls = {
        "set_cet_state_aqi": lambda: metadata.set_cet(wh, aqi, at),
        "truncate_table_state_aqi_stage": lambda: wh.truncate(aqi),
        "get_metadata_state_aqi": lambda: metadata.get_metadata(wh, aqi),
        "process_aqi_files": lambda: s2s.process_aqi_files(wh, src.root),
        "set_lset_state_aqi": lambda: metadata.set_lset(wh, aqi, at),
        "set_cet_us_counties": lambda: metadata.set_cet(wh, cty, at),
        "truncate_table_us_counties_stage": lambda: wh.truncate(cty),
        "process_counties_file": lambda: s2s.process_counties_file(wh, src.counties_csv),
        "set_lset_us_counties": lambda: metadata.set_lset(wh, cty, at),
        "get_merged_state_data": lambda: s2n.upsert_states(wh, at),
        "get_merged_county_data": lambda: s2n.upsert_counties(wh, at),
        "get_merged_measurement_data": lambda: s2n.upsert_measurements(wh, at),
    }
    for task in dag_task_ids():
        calls[task]()


def parquet_bytes(path: str) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files)


def check_warehouse(
    root: str, model: NdsModel, w: Window, inserted: int, updated: int, stage_rows: int
) -> list[str]:
    """Compare the warehouse after a load of ``w`` with the model: row
    counts, unique non-null natural and surrogate keys, the stage row
    count, and the measurement insert/update split (inserted rows carry
    ``created_date_nds = now``, updated ones only ``last_updated_nds``)."""
    errs: list[str] = []

    def expect(what: str, got, want) -> None:
        if got != want:
            errs.append(f"{what}: got {got}, want {want}")

    def scan(table: str) -> str:
        return f"read_parquet('{os.path.join(root, table)}/*.parquet')"

    con = duckdb.connect()
    try:
        n, keys, nn, sks, nn_sk = con.execute(
            f"SELECT count(*), count(DISTINCT state_name), count(state_name),"
            f" count(DISTINCT state_id_sk), count(state_id_sk) FROM {scan(s2n.STATE_NDS)}"
        ).fetchone()
        expect("state_nds rows", n, len(model.states))
        expect("state_nds key/sk unique non-null", (keys, nn, sks, nn_sk), (n,) * 4)

        n, keys, nn, fips, nn_fips, sks, nn_sk = con.execute(
            f"SELECT count(*), count(DISTINCT (county_name, state_id_sk)),"
            f" count(*) FILTER (county_name IS NOT NULL AND state_id_sk IS NOT NULL),"
            f" count(DISTINCT county_fips), count(county_fips),"
            f" count(DISTINCT county_id_sk), count(county_id_sk) FROM {scan(s2n.COUNTY_NDS)}"
        ).fetchone()
        expect("county_nds rows", n, model.counties)
        expect("county_nds (name, state) unique non-null", (keys, nn), (n, n))
        expect("county_nds fips unique", fips, nn_fips)
        expect("county_nds sk unique non-null", (sks, nn_sk), (n, n))

        n, keys, nn, sks, nn_sk, ins, upd = con.execute(
            f"SELECT count(*), count(DISTINCT (measured_date, defining_site, defining_parameter)),"
            f" count(*) FILTER (measured_date IS NOT NULL AND defining_site IS NOT NULL"
            f"  AND defining_parameter IS NOT NULL),"
            f" count(DISTINCT measurement_id_sk), count(measurement_id_sk),"
            f" count(*) FILTER (created_date_nds = $now),"
            f" count(*) FILTER (last_updated_nds = $now AND created_date_nds <> $now)"
            f" FROM {scan(s2n.MEASUREMENT_NDS)}",
            {"now": w.cet},
        ).fetchone()
        expect("measurement_nds rows", n, model.measurements)
        expect("measurement_nds key/sk unique non-null", (keys, nn, sks, nn_sk), (n,) * 4)
        expect("measurement rows inserted/updated", (ins, upd), (inserted, updated))

        (n,) = con.execute(f"SELECT count(*) FROM {scan(s2s.AQI_STAGE)}").fetchone()
        expect("state_aqi_stage rows", n, stage_rows)
    except duckdb.Error as e:
        errs.append(f"warehouse unreadable: {e}")
    finally:
        con.close()
    return errs


class EtlNightly:
    name = "etl_nightly"
    checked = ("seed_backfill",)

    def __init__(self, rundir: str, seed: int):
        self.src = aqi_source.generate(
            os.path.join(rundir, "source"), seed, BACKFILL_ROWS, NIGHTS, ROWS_PER_NIGHT
        )
        #: rows of every source file a scan reads
        self.source_rows = len(self.src.rows) + self.src.master_rows
        self.root = os.path.join(rundir, "warehouse")
        self.model = NdsModel(self.src)
        self.night = 0
        self.facts: dict = {}  # the last op's counts, for the trace

    def preload(self, spark) -> None:
        """Open every source file through ``sources.readers`` and count
        its rows."""
        readers.read_aqi_csv_glob(spark, self.src.root).count()
        readers.read_counties_csv(spark, self.src.counties_csv).count()

    def scan(self, spark) -> None:
        """Forced scan of every source file through ``sources.readers``."""
        readers.read_aqi_csv_glob(spark, self.src.root).write.format("noop").mode("overwrite").save()
        readers.read_counties_csv(spark, self.src.counties_csv).write.format("noop").mode(
            "overwrite"
        ).save()

    def _load(self, spark, w: Window):
        """(rows in the window, timed load, check) of one DAG pass of
        ``w`` into the warehouse."""
        rows, inserted, updated = self.model.load(w)
        in_window = self.src.in_window(w)
        target_before = sum(parquet_bytes(os.path.join(self.root, t)) for t in NDS_TABLES)

        def load() -> None:
            run_dag(Warehouse(spark, self.root), self.src, w)

        def check() -> list[str]:
            self.facts = {
                "window_rows": rows,
                "window_bytes": sum(r.nbytes for r in in_window),
                "target_bytes_before": target_before,
                "rows_inserted": inserted,
                "rows_updated": updated,
            }
            return check_warehouse(self.root, self.model, w, inserted, updated, rows)

        return rows, load, check

    def stored_bytes_per_row(self) -> float:
        """NDS parquet bytes per live NDS row after the last op."""
        root = self.root
        con = duckdb.connect()
        try:
            n = sum(
                con.execute(f"SELECT count(*) FROM read_parquet('{root}/{t}/*.parquet')")
                .fetchone()[0]
                for t in NDS_TABLES
            )
        finally:
            con.close()
        return sum(parquet_bytes(os.path.join(root, t)) for t in NDS_TABLES) / n

    def start(self, spark) -> dict[str, str]:
        """Warm-up: load (untimed) and check the backfill the nights
        build on. Returns the failed checks."""
        _, load, check = self._load(spark, aqi_source.backfill_window())
        load()
        self.counties = self.model.counties
        errs = check()
        return {"seed_backfill": "; ".join(errs)} if errs else {}

    def next_op(self, spark):
        self.night += 1
        if self.night > NIGHTS:
            raise RuntimeError(f"run outlasted the {NIGHTS} generated nights")
        rows, load, check = self._load(spark, aqi_source.night_window(self.night))

        def check_night() -> list[str]:
            errs = check()
            if self.model.counties != self.counties:  # dp2 must stay idempotent
                errs.append(f"county_nds grew from {self.counties} to {self.model.counties}")
            return errs

        return rows, load, check_night
