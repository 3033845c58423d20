"""A registry query leaves nothing behind in the caller's session or on
disk: no temp view (rc1 once registered a fixed one) and no temp
directory (st6 once left its warehouse and checkpoint), while the
returned frame still reads its rows. A query that writes files reads
back only what was written from its current input (sim_ivfd once
probed an index built from older embeddings), never rewrites what an
earlier call's frame reads (fmt1 and sch1 once overwrote one
directory per corpus name), and the files go when the Spark session
stops."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import tempfile
import uuid

import duckdb
import pytest

from aqi_analysis_apache_airflow_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: The queries that write files their returned plan reads.
WRITERS = ["fmt1_multiformat_roundtrip", "sch1_schema_evolution", "sim_ivfd_topk"]


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _oracle_rows(name: str, table: str, sf_dir: str = SF_DIR) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'")
        return con.execute(REGISTRY[name].oracle).fetchall()
    finally:
        con.close()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


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


def test_sim_ivfd_reads_the_current_embeddings(spark, tmp_path):
    """Embeddings overwritten in place between two calls: the second
    call ranks the new vectors, not an index of the old ones."""
    sf = tmp_path / "corpus"
    shutil.copytree(SF_DIR, sf)
    q = REGISTRY["sim_ivfd_topk"].fn
    for src in (SF_DIR, os.path.join(os.path.dirname(SF_DIR), "sf0.01")):
        shutil.copyfile(f"{src}/embeddings.parquet", sf / "embeddings.parquet")
        got = [(v, round(c, 6)) for v, c in _rows(q(spark, str(sf)))]
        want = _oracle_rows("sim_ivfd_topk", "embeddings", str(sf))
        assert got == sorted((v, round(c, 6)) for v, c in want), src


@pytest.mark.parametrize("name", WRITERS)
def test_second_call_keeps_first_frame(spark, name):
    """A second call over the same input reuses the first call's files
    and adds none: the first call's frame still reads its rows
    afterwards."""
    from pyspark import SparkFiles

    q = REGISTRY[name].fn
    first = q(spark, SF_DIR)
    written = sorted(os.listdir(SparkFiles.getRootDirectory()))
    second = q(spark, SF_DIR)
    assert sorted(os.listdir(SparkFiles.getRootDirectory())) == written
    assert _rows(first) == _rows(second)


_SESSION_CHILD = """
import sys
from pyspark.sql import SparkSession
from aqi_analysis_apache_airflow_spark.plans import REGISTRY
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
for name in sys.argv[2:]:
    REGISTRY[name].fn(spark, sys.argv[1]).collect()
spark.stop()
"""


def test_writers_leave_no_files_after_the_session(tmp_path):
    """The files the writers read back live in the Spark session's own
    temp directory: once the session stops, neither the Spark local
    dir nor the temp dir holds a file, and nothing is left under a
    fixed /tmp root named after the corpus."""
    local, tmp = tmp_path / "local", tmp_path / "tmp"
    local.mkdir()
    tmp.mkdir()
    sf = tmp_path / f"corpus_{uuid.uuid4().hex}"
    shutil.copytree(SF_DIR, sf)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local), TMPDIR=str(tmp))
    out = subprocess.run(
        [sys.executable, "-c", _SESSION_CHILD, str(sf), *WRITERS],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    for d in (local, tmp):
        files = [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs]
        assert files == [], files
    assert glob.glob(f"/tmp/spark_graft_*/{sf.name}") == []
