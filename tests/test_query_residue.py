"""A registry query leaves nothing behind in the caller's session or on
disk: no temp view (rc1 once registered a fixed one) and no temp
directory (st6 once left its warehouse and checkpoint), while the
returned frame still reads its rows."""

from __future__ import annotations

import tempfile

import duckdb

from aqi_analysis_apache_airflow_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _oracle_rows(name: str, table: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{SF_DIR}/{table}.parquet'")
        return con.execute(REGISTRY[name].oracle).fetchall()
    finally:
        con.close()


def test_rc1_leaves_no_temp_view(spark):
    views = _temp_views(spark)
    out = REGISTRY["rc1_recursive_hierarchy"].fn(spark, SF_DIR)
    assert _temp_views(spark) == views
    # integer columns only: the rows compare exactly
    got = sorted(tuple(r) for r in out.select("node", "depth", "chain_len").collect())
    assert got == sorted(_oracle_rows("rc1_recursive_hierarchy", "customer"))


def test_st6_leaves_no_temp_directory(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = REGISTRY["st6_stream_merge_upsert"].fn(spark, SF_DIR)
    assert list(tmp_path.iterdir()) == []
    assert out.count() == len(_oracle_rows("st6_stream_merge_upsert", "events"))
