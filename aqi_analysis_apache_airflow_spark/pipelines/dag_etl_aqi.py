"""Airflow DAG mirroring the reference topology (``dags/etl/main.py:8-95``).

The reference runs PythonOperator tasks that do pandas work inside the
Airflow worker. Here each task submits a Spark job (the functions in
:mod:`.source_to_stage` / :mod:`.stage_to_nds`); Airflow only
orchestrates. Same DAG id, schedule (22:00 daily, no catchup), task
groups and dependency chain:

    source_to_stage
      ├─ load_into_aqi_stage:     set_cet → truncate → get_metadata
      │                             → process_aqi_files → set_lset
      └─ load_into_counties_stage: set_cet → truncate
                                    → process_counties_file → set_lset
    >> stage_to_nds: states → counties → measurements

The graph lives in the declarative :data:`TOPOLOGY` below so it is
testable WITHOUT a scheduler (Airflow is not installed in this image;
the DAG block degrades to a no-op and the topology test expands
:data:`TOPOLOGY` into edges and checks them against the reference
graph).
"""

from __future__ import annotations

import os
from datetime import datetime
from typing import Callable

try:  # pragma: no cover - airflow not in the test image
    from airflow import DAG
    from airflow.operators.python import PythonOperator
    from airflow.utils.task_group import TaskGroup

    HAVE_AIRFLOW = True
except ImportError:  # pragma: no cover
    HAVE_AIRFLOW = False

#: Group → (sub-group → task chain | task chain). Chain order IS the
#: dependency order; groups in GROUP_ORDER are sequenced start-to-end.
#: Task ids match ``dags/etl/main.py`` one-for-one.
TOPOLOGY: dict[str, dict[str, list[str]] | list[str]] = {
    "source_to_stage": {
        "load_into_aqi_stage": [
            "set_cet_state_aqi",
            "truncate_table_state_aqi_stage",
            "get_metadata_state_aqi",
            "process_aqi_files",
            "set_lset_state_aqi",
        ],
        "load_into_counties_stage": [
            "set_cet_us_counties",
            "truncate_table_us_counties_stage",
            "process_counties_file",
            "set_lset_us_counties",
        ],
    },
    "stage_to_nds": [
        "get_merged_state_data",
        "get_merged_county_data",
        "get_merged_measurement_data",
    ],
}
GROUP_ORDER = ["source_to_stage", "stage_to_nds"]


def _wh():
    from ..session import get_spark
    from .warehouse import Warehouse

    return Warehouse(get_spark("etl_aqi"), os.environ["AQI_WAREHOUSE"])


def _meta(fn_name: str, table: str) -> Callable[[], None]:
    def _inner() -> None:
        from . import metadata

        getattr(metadata, fn_name)(_wh(), table)

    return _inner


def _truncate(table: str) -> Callable[[], None]:
    def _inner() -> None:
        _wh().truncate(table)

    return _inner


def _stage(fn_name: str, env_var: str) -> Callable[[], None]:
    def _inner() -> None:
        from . import source_to_stage as s2s

        getattr(s2s, fn_name)(_wh(), os.environ[env_var])

    return _inner


def _nds(fn_name: str) -> Callable[[], None]:
    def _inner() -> None:
        from . import stage_to_nds as s2n

        getattr(s2n, fn_name)(_wh())

    return _inner


#: task_id → zero-arg callable, one per TOPOLOGY task (the
#: PythonOperator python_callables; also what the topology test uses
#: to prove no task id is an orphan).
CALLABLES: dict[str, Callable[[], None]] = {
    "set_cet_state_aqi": _meta("set_cet", "state_aqi_stage"),
    "truncate_table_state_aqi_stage": _truncate("state_aqi_stage"),
    "get_metadata_state_aqi": _meta("get_metadata", "state_aqi_stage"),
    "process_aqi_files": _stage("process_aqi_files", "AQI_SOURCE_DIR"),
    "set_lset_state_aqi": _meta("set_lset", "state_aqi_stage"),
    "set_cet_us_counties": _meta("set_cet", "us_counties_stage"),
    "truncate_table_us_counties_stage": _truncate("us_counties_stage"),
    "process_counties_file": _stage("process_counties_file", "AQI_COUNTIES_CSV"),
    "set_lset_us_counties": _meta("set_lset", "us_counties_stage"),
    "get_merged_state_data": _nds("upsert_states"),
    "get_merged_county_data": _nds("upsert_counties"),
    "get_merged_measurement_data": _nds("upsert_measurements"),
}


if HAVE_AIRFLOW:  # pragma: no cover
    with DAG(
        dag_id="ETL_AQI",
        start_date=datetime(2024, 11, 20),
        schedule_interval="0 22 * * *",
        catchup=False,
    ) as dag:
        groups = []
        for group_name in GROUP_ORDER:
            body = TOPOLOGY[group_name]
            with TaskGroup(group_name) as tg:
                sub = body.values() if isinstance(body, dict) else [body]
                names = body.keys() if isinstance(body, dict) else [None]
                for sub_name, chain in zip(names, sub):
                    ctx = TaskGroup(sub_name) if sub_name else None
                    ops = [
                        PythonOperator(
                            task_id=t, python_callable=CALLABLES[t], task_group=ctx
                        )
                        for t in chain
                    ]
                    for up, down in zip(ops, ops[1:]):
                        up >> down
            groups.append(tg)
        for up, down in zip(groups, groups[1:]):
            up >> down
