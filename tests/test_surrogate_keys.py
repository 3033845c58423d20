"""``operators.surrogate.assign_missing_keys`` on small frames, and the
shape of the plan it adds.

Expected keys are computed here from the rows each test builds: rows
with a key keep it, and NULL-keyed rows get ``max + 1, + 2, …`` in
``order_by`` order.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from aqi_analysis_apache_airflow_spark.operators.surrogate import assign_missing_keys

SCHEMA = T.StructType(
    [T.StructField("sk", T.LongType()), T.StructField("name", T.StringType())]
)


def numbered(spark, rows) -> dict:
    df = assign_missing_keys(spark.createDataFrame(rows, SCHEMA), "sk", ["name"])
    return {r["name"]: r["sk"] for r in df.collect()}


def expected(rows) -> dict:
    kept = {name: sk for sk, name in rows if sk is not None}
    top = max(kept.values(), default=0)
    new = sorted(name for sk, name in rows if sk is None)
    return {**kept, **{name: top + i for i, name in enumerate(new, 1)}}


def test_gapped_keys_continue_from_max(spark):
    rows = [(5, "e"), (None, "d"), (1, "a"), (None, "b")]
    assert expected(rows) == {"a": 1, "e": 5, "b": 6, "d": 7}
    assert numbered(spark, rows) == expected(rows)


def test_rows_keep_the_written_order(spark):
    """Existing rows first, then new ones, each in ``order_by`` order,
    so a rewrite that numbers no row writes its rows in the same order."""
    rows = [(5, "e"), (None, "d"), (1, "a"), (None, "b")]
    df = assign_missing_keys(spark.createDataFrame(rows, SCHEMA), "sk", ["name"])
    assert [r["name"] for r in df.collect()] == ["a", "e", "b", "d"]


def test_no_existing_keys_number_from_one(spark):
    rows = [(None, "c"), (None, "a"), (None, "b")]
    assert numbered(spark, rows) == expected(rows) == {"a": 1, "b": 2, "c": 3}


def test_no_null_keys_are_unchanged(spark):
    rows = [(3, "c"), (9, "a"), (4, "b")]
    assert numbered(spark, rows) == {name: sk for sk, name in rows}


def test_empty_frame_stays_empty(spark):
    assert numbered(spark, []) == {}


def shuffles(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"(?<!Broadcast)Exchange ", plan))


def test_numbering_adds_one_shuffle_and_no_nested_loop_join(spark, tmp_path):
    """Row number and offset share one window behind one exchange; the
    offset is not a separate aggregate broadcast into a cross join."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(5, "e"), (None, "d")], SCHEMA).write.parquet(path)
    base = spark.read.schema(SCHEMA).parquet(path)
    out = assign_missing_keys(base, "sk", ["name"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert shuffles(out) - shuffles(base) == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan and "BroadcastExchange" not in plan, plan
