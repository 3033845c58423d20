"""Operator unit tests (SURVEY.md §5.3): the semantics that are easy to
get silently wrong."""

from __future__ import annotations

from pyspark.sql import functions as F

from aqi_analysis_apache_airflow_spark.functions.scalar import aqi_category
from aqi_analysis_apache_airflow_spark.operators.dedupe import keep_first
from aqi_analysis_apache_airflow_spark.operators.filters import not_in
from aqi_analysis_apache_airflow_spark.operators.merge import merge_upsert


def test_aqi_buckets_float_gaps(spark):
    """The reference contract (``dags/etl/source_to_stage.py:110-125``):
    integer-bounded closed buckets leave GAPS for non-integer values —
    50.5 is Unknown, not Good/Moderate. Negatives are Unknown too."""
    df = spark.createDataFrame(
        [(0.0,), (50.0,), (50.5,), (51.0,), (300.5,), (301.0,), (-1.0,), (1e9,)],
        "aqi double",
    ).withColumn("cat", aqi_category(F.col("aqi")))
    got = {r["aqi"]: r["cat"] for r in df.collect()}
    assert got[0.0] == "Good"
    assert got[50.0] == "Good"
    assert got[50.5] == "Unknown"
    assert got[51.0] == "Moderate"
    assert got[300.5] == "Hazardous"  # > 300 catches the gap above 300
    assert got[301.0] == "Hazardous"
    assert got[-1.0] == "Unknown"
    assert got[1e9] == "Hazardous"


def test_not_in_null_subquery_empties_result(spark):
    """SQL three-valued logic (``dags/etl/stage_to_nds.py:120``): any
    NULL in the subquery → NOT IN yields ZERO rows. A bare anti-join
    would wrongly return a/c."""
    df = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    sub_with_null = spark.createDataFrame([("b",), (None,)], "k2 string")
    assert not_in(df, "k", sub_with_null, "k2").count() == 0
    sub_clean = spark.createDataFrame([("b",)], "k2 string")
    got = {r["k"] for r in not_in(df, "k", sub_clean, "k2").collect()}
    assert got == {"a", "c"}


def test_not_in_null_probe_value(spark):
    """A probe row whose column IS NULL: SQL evaluates
    ``NULL NOT IN (non-empty set)`` to unknown → dropped; against an
    EMPTY subquery the predicate is vacuously true → kept. A bare
    anti-join keeps the NULL row in both cases."""
    df = spark.createDataFrame([("a",), (None,)], "k string")
    sub_nonempty = spark.createDataFrame([("b",)], "k2 string")
    got = {r["k"] for r in not_in(df, "k", sub_nonempty, "k2").collect()}
    assert got == {"a"}  # NULL probe row excluded
    sub_empty = sub_nonempty.filter(F.lit(False))
    got_empty = {r["k"] for r in not_in(df, "k", sub_empty, "k2").collect()}
    assert got_empty == {"a", None}  # vacuously true for every row


def test_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("k1", 2, "second"), ("k1", 1, "first"), ("k2", 9, "only")],
        "k string, ord int, val string",
    )
    got = {
        r["k"]: r["val"]
        for r in keep_first(df, keys=["k"], order_by=["ord"]).collect()
    }
    assert got == {"k1": "first", "k2": "only"}


def test_merge_upsert_matrix(spark):
    """Update / keep / insert paths plus null-key safety in one merge."""
    target = spark.createDataFrame(
        [(1, "old-1", "keep-1"), (2, "old-2", "keep-2"), (None, "null-key", "keep-n")],
        "id int, upd string, other string",
    )
    source = spark.createDataFrame(
        [(2, "new-2", "src-2"), (3, "new-3", "src-3")],
        "id int, upd string, other string",
    )
    out = {
        r["id"]: (r["upd"], r["other"])
        for r in merge_upsert(target, source, keys=["id"], update_cols=["upd"]).collect()
    }
    assert out[1] == ("old-1", "keep-1")          # untouched
    assert out[2] == ("new-2", "keep-2")          # upd updated, other kept
    assert out[3] == ("new-3", "src-3")           # inserted
    assert out[None] == ("null-key", "keep-n")    # null key survives intact
    # idempotent: merging the same source again changes nothing
    merged = merge_upsert(target, source, keys=["id"], update_cols=["upd"])
    again = merge_upsert(merged, source, keys=["id"], update_cols=["upd"])
    canon = lambda df: sorted(tuple(map(str, r)) for r in df.collect())
    assert canon(merged) == canon(again)


def test_merge_upsert_constant_maps(spark):
    """``insert_only_cols`` and ``set_on_match`` on one column: each arm
    takes its own value. A NULL source key matches the NULL-key target
    row through ``eqNullSafe``; without one, that row survives intact."""
    target = spark.createDataFrame(
        [(1, "old-1", "t-1"), (2, "old-2", "t-2"), (None, "null-key", "t-n")],
        "id int, upd string, stamp string",
    )

    def merge(rows):
        source = spark.createDataFrame(rows, "id int, upd string")
        merged = merge_upsert(
            target,
            source,
            keys=["id"],
            update_cols=["upd"],
            insert_only_cols={"stamp": "inserted"},
            set_on_match={"stamp": "matched"},
        )
        assert merged.schema == target.schema
        return {r["id"]: (r["upd"], r["stamp"]) for r in merged.collect()}

    assert merge([(2, "new-2"), (3, "new-3")]) == {
        1: ("old-1", "t-1"),            # target-only: keeps its stamp
        2: ("new-2", "matched"),        # matched
        3: ("new-3", "inserted"),       # inserted
        None: ("null-key", "t-n"),      # NULL-key target row untouched
    }
    assert merge([(None, "new-n")]) == {
        1: ("old-1", "t-1"),
        2: ("old-2", "t-2"),
        None: ("new-n", "matched"),     # NULL source key matched, not inserted
    }


def test_asof_join_semantics(spark):
    from datetime import datetime

    from aqi_analysis_apache_airflow_spark.operators.asof import asof_join

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [("u1", t(10), "a"), ("u1", t(20), "b"), ("u1", t(5), "c"), ("u2", t(10), "d")],
        "k string, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [("u1", t(10), 1.0), ("u1", t(15), 2.0), ("u3", t(1), 9.0)],
        "k string, rts timestamp, price double",
    )
    got = {
        (r["k"], r["tag"]): r["price"]
        for r in asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="rts", value_cols=["price"]
        ).collect()
    }
    assert got[("u1", "a")] == 1.0   # tie: right row at same ts IS visible
    assert got[("u1", "b")] == 2.0   # latest prior
    assert got[("u1", "c")] is None  # nothing at-or-before
    assert got[("u2", "d")] is None  # key with no right rows


def test_scd2_upsert_history(spark):
    from datetime import datetime

    from aqi_analysis_apache_airflow_spark.operators.scd2 import (
        scd2_init,
        scd2_upsert,
    )

    t1, t2, t3 = (datetime(2024, 1, d) for d in (1, 2, 3))
    src1 = spark.createDataFrame(
        [("k1", "v1"), ("k2", "x")], "k string, val string"
    )
    tgt = scd2_init(src1, t1)

    # day 2: k1 changes, k2 unchanged, k3 appears
    src2 = spark.createDataFrame(
        [("k1", "v2"), ("k2", "x"), ("k3", "new")], "k string, val string"
    )
    tgt2 = scd2_upsert(tgt, src2, keys=["k"], tracked_cols=["val"], effective_ts=t2)
    rows = {(r["k"], r["val"]): r for r in tgt2.collect()}
    assert len(rows) == 4
    old = rows[("k1", "v1")]
    assert old["is_current"] is False and old["valid_to"] == t2
    assert rows[("k1", "v2")]["is_current"] is True
    assert rows[("k2", "x")]["is_current"] is True and rows[("k2", "x")]["valid_from"] == t1
    assert rows[("k3", "new")]["valid_from"] == t2

    # idempotent: same source again is a no-op
    tgt3 = scd2_upsert(tgt2, src2, keys=["k"], tracked_cols=["val"], effective_ts=t3)
    canon = lambda df: sorted(tuple(map(str, r)) for r in df.collect())
    assert canon(tgt3) == canon(tgt2)

    # point-in-time reconstruction: state as of t1
    at_t1 = tgt3.filter(
        (F.col("valid_from") <= t1)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t1))
    )
    assert {(r["k"], r["val"]) for r in at_t1.collect()} == {("k1", "v1"), ("k2", "x")}


def test_scd2_null_key_and_empty_tracked(spark):
    """Null-key source rows flow through the presence markers (not
    silently dropped), and tracked_cols=[] is refused up front."""
    from datetime import datetime

    import pytest

    from aqi_analysis_apache_airflow_spark.operators.scd2 import (
        scd2_init,
        scd2_upsert,
    )

    t1, t2 = datetime(2024, 1, 1), datetime(2024, 1, 2)
    tgt = scd2_init(
        spark.createDataFrame([("k1", "v1"), (None, "vn")], "k string, val string"),
        t1,
    )
    src = spark.createDataFrame(
        [(None, "vn2"), ("k2", "new")], "k string, val string"
    )
    out = scd2_upsert(tgt, src, keys=["k"], tracked_cols=["val"], effective_ts=t2)
    rows = {(r["k"], r["val"]): r for r in out.collect()}
    # null key matched via eqNullSafe: old version closed, new one open
    assert rows[(None, "vn")]["is_current"] is False
    assert rows[(None, "vn")]["valid_to"] == t2
    assert rows[(None, "vn2")]["is_current"] is True
    assert rows[("k2", "new")]["is_current"] is True
    assert rows[("k1", "v1")]["is_current"] is True  # absent from source

    with pytest.raises(ValueError, match="tracked_cols"):
        scd2_upsert(tgt, src, keys=["k"], tracked_cols=[], effective_ts=t2)


def test_asof_join_name_collision_raises(spark):
    import pytest

    from aqi_analysis_apache_airflow_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 1, 9.0)], "k string, ts int, price double")
    right = spark.createDataFrame([("k", 1, 5.0)], "k string, rts int, price double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="rts", value_cols=["price"]
        )
    # explicit rename resolves it
    ok = asof_join(
        left,
        right.withColumnRenamed("price", "r_price"),
        keys=["k"],
        left_ts="ts",
        right_ts="rts",
        value_cols=["r_price"],
    )
    assert ok.columns.count("price") == 1 and "r_price" in ok.columns


def test_merge_upsert_unique_source_guard(spark):
    import pytest

    tgt = spark.createDataFrame([(1, "a")], "k int, v string")
    dup_src = spark.createDataFrame([(1, "b"), (1, "c")], "k int, v string")
    ok_src = spark.createDataFrame([(1, "b"), (2, "d")], "k int, v string")
    # silent fan-out without the guard (documented), loud failure with it
    with pytest.raises(Exception, match="duplicate source key"):
        merge_upsert(tgt, dup_src, ["k"], assert_unique_source=True).collect()
    out = merge_upsert(tgt, ok_src, ["k"], assert_unique_source=True)
    assert sorted((r.k, r.v) for r in out.collect()) == [(1, "b"), (2, "d")]


def test_not_in_matches_sql_semantics_property(spark):
    """Property check: not_in() equals DuckDB's real NOT IN on random
    probe/subquery lists with NULLs in every position combination."""
    import duckdb
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    vals = st.lists(st.one_of(st.none(), st.integers(0, 5)), max_size=6)

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(probe=vals, sub=vals)
    def check(probe, sub):
        df = spark.createDataFrame([(v,) for v in probe] or [(None,)], "k int")
        if not probe:
            df = df.limit(0)
        sdf = spark.createDataFrame([(v,) for v in sub] or [(None,)], "k2 int")
        if not sub:
            sdf = sdf.limit(0)
        got = sorted(
            (r["k"] for r in not_in(df, "k", sdf, "k2").collect()),
            key=lambda x: (x is None, x),
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE p(k INTEGER); CREATE TABLE s(k2 INTEGER)")
        if probe:
            con.executemany("INSERT INTO p VALUES (?)", [(v,) for v in probe])
        if sub:
            con.executemany("INSERT INTO s VALUES (?)", [(v,) for v in sub])
        want = sorted(
            (r[0] for r in con.execute(
                "SELECT k FROM p WHERE k NOT IN (SELECT k2 FROM s)"
            ).fetchall()),
            key=lambda x: (x is None, x),
        )
        assert got == want, f"probe={probe} sub={sub}: {got} != {want}"

    check()


def test_asof_cogrouped_equals_union_tag(spark):
    """The cogrouped-pandas as-of join (pd.merge_asof per key) is
    row-identical to the set-based union-tag implementation on real
    event data, including keys with no right rows."""
    from aqi_analysis_apache_airflow_spark.operators.asof import (
        asof_join,
        asof_join_cogrouped,
    )
    from aqi_analysis_apache_airflow_spark.sources.readers import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    left = ev.select("user_id", "ts", "event_id")
    # sparse right side: every 10th event carries a price; one row per
    # (user, ts) so the backward pick is unambiguous on ties
    right = (
        ev.filter(F.col("event_id") % 10 == 0)
        .select("user_id", F.col("ts").alias("rts"), F.col("value").alias("price"))
        .dropDuplicates(["user_id", "rts"])
    )
    a = asof_join(left, right, ["user_id"], "ts", "rts", ["price"])
    b = asof_join_cogrouped(left, right, ["user_id"], "ts", "rts", ["price"])
    canon = lambda df: sorted(
        tuple(map(str, r))
        for r in df.select("user_id", "ts", "event_id", "price").collect()
    )
    assert canon(a) == canon(b)
