"""spread_if_narrow (functions/spread.py): the size-conditional scan
spread must fire on narrow inputs (single-split bench corpus,
in-memory frames) and VANISH when the natural file splits already
feed the session parallelism — the property that keeps the r13 helper
spreads from becoming a full corpus shuffle at production scale.

r14 (ADVICE r13 #1–#3): the split estimate is row-group-bounded (a
big file with ONE row group is one usable split no matter its bytes),
the split quantum comes from spark.sql.files.maxPartitionBytes with
the 128 MiB default as fallback, and ``plans.registry.load_spread``
delegates here — one estimate, one conservative unknown-size arm.
"""

from __future__ import annotations

import re

from aqi_analysis_apache_airflow_spark.functions import spread as spread_mod
from aqi_analysis_apache_airflow_spark.functions.spread import (
    split_quantum,
    spread_if_narrow,
)

SF_DIR = "/root/testdata/sf0.001"


def _n_round_robin(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"RoundRobinPartitioning", plan))


def test_spread_fires_on_single_split_file(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = spread_if_narrow(df)
    assert _n_round_robin(out) == 1
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert out.rdd.getNumPartitions() == n_part


def test_spread_fires_on_in_memory_frame(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, t string")
    assert _n_round_robin(spread_if_narrow(df)) == 1


def test_spread_vanishes_when_splits_suffice(spark, monkeypatch):
    # shrink the split quantum so the tiny file counts as >= n_part
    # byte-splits, and lift the row-group bound (the real file is ONE
    # row group) — the production-scale condition (many healthy
    # ~128 MB row groups), exercised without a 4 GiB fixture
    monkeypatch.setattr(spread_mod, "split_quantum", lambda s: 1)
    monkeypatch.setattr(spread_mod, "_row_groups", lambda p: 10**9)
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = spread_if_narrow(df)
    assert out is df
    assert _n_round_robin(out) == 0


def test_row_group_bound_keeps_spread_on_giant_row_groups(
    spark, monkeypatch
):
    # ADVICE r13 #1: byte estimate says plenty of splits (quantum 1),
    # but the file is ONE row group — only one scan task can be
    # non-empty, so the spread must still fire
    monkeypatch.setattr(spread_mod, "split_quantum", lambda s: 1)
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert _n_round_robin(spread_if_narrow(df)) == 1


def test_split_quantum_reads_session_conf(spark):
    # ADVICE r13 #2: one source of truth — a conf override must reach
    # the estimate
    default = split_quantum(spark)
    assert default == 128 * 1024 * 1024
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
    try:
        assert split_quantum(spark) == 64 * 1024 * 1024
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_spread_vanishes_on_remote_storage(spark, monkeypatch):
    # a remote URI cannot be sized locally, but its store already has
    # the natural splits — spreading would shuffle the whole corpus
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    monkeypatch.setattr(
        type(df), "inputFiles", lambda self: ["s3a://bucket/t/part-0.parquet"]
    )
    assert _n_round_robin(spread_if_narrow(df)) == 0


def test_load_spread_unknown_size_spreads(spark, monkeypatch):
    # ADVICE r13 #3: both helpers share the CONSERVATIVE unknown arm —
    # when the input size cannot be determined, the spread stays
    from aqi_analysis_apache_airflow_spark.plans.registry import (
        load_spread,
    )

    monkeypatch.setattr(spread_mod, "_natural_splits", lambda df, q: None)
    out = load_spread(spark, SF_DIR, "documents")
    assert _n_round_robin(out) == 1


def test_spread_values_unchanged(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    a = {tuple(r) for r in df.collect()}
    b = {tuple(r) for r in spread_if_narrow(df).collect()}
    assert a == b
