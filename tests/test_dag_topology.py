"""The Airflow DAG's task graph must match the reference topology
(``dags/etl/main.py:8-95``) — asserted WITHOUT a scheduler, against
the declarative TOPOLOGY the real DAG block is built from. No Spark
session needed."""

from __future__ import annotations

from aqi_analysis_apache_airflow_spark.pipelines import dag_etl_aqi as dag

# hand-transcribed from the reference main.py (the two stage chains,
# the NDS chain, and the group-sequencing fan: each stage chain's
# terminal feeds the NDS chain's root)
REFERENCE_EDGES = {
    # load_into_aqi_stage (main.py:15-42)
    ("set_cet_state_aqi", "truncate_table_state_aqi_stage"),
    ("truncate_table_state_aqi_stage", "get_metadata_state_aqi"),
    ("get_metadata_state_aqi", "process_aqi_files"),
    ("process_aqi_files", "set_lset_state_aqi"),
    # load_into_counties_stage (main.py:44-66)
    ("set_cet_us_counties", "truncate_table_us_counties_stage"),
    ("truncate_table_us_counties_stage", "process_counties_file"),
    ("process_counties_file", "set_lset_us_counties"),
    # stage_to_nds (main.py:68-85)
    ("get_merged_state_data", "get_merged_county_data"),
    ("get_merged_county_data", "get_merged_measurement_data"),
    # source_to_stage_group >> stage_to_nds_group (main.py:95)
    ("set_lset_state_aqi", "get_merged_state_data"),
    ("set_lset_us_counties", "get_merged_state_data"),
}


def _chains() -> list[list[str]]:
    out = []
    for group in dag.GROUP_ORDER:
        body = dag.TOPOLOGY[group]
        if isinstance(body, dict):
            out.extend(body.values())
        else:
            out.append(body)
    return out


def _edges() -> set[tuple[str, str]]:
    """The task graph as (upstream, downstream) pairs: every within-
    chain edge, plus the group-sequencing edges (each terminal task of
    ``source_to_stage``'s sub-chains feeds every root task of
    ``stage_to_nds`` — exactly what Airflow's ``group >> group``
    expands to)."""
    es: set[tuple[str, str]] = set()
    for chain in _chains():
        es.update(zip(chain, chain[1:]))
    stage = dag.TOPOLOGY["source_to_stage"]
    assert isinstance(stage, dict)
    nds = dag.TOPOLOGY["stage_to_nds"]
    assert isinstance(nds, list)
    for chain in stage.values():
        es.add((chain[-1], nds[0]))
    return es


def test_task_graph_matches_reference():
    assert _edges() == REFERENCE_EDGES


def test_every_task_has_a_callable():
    task_ids = {t for chain in _chains() for t in chain}
    assert set(dag.CALLABLES) == task_ids
    assert all(callable(fn) for fn in dag.CALLABLES.values())


def test_group_sequencing():
    """Both groups exist and are ordered stage → NDS."""
    assert dag.GROUP_ORDER == ["source_to_stage", "stage_to_nds"]
    assert set(dag.TOPOLOGY) == set(dag.GROUP_ORDER)
