"""The t2 query matrix: one registered query per SURVEY.md §2 operator row.

Each function is the Spark-first implementation; the ``oracle=`` string
is the ANSI-SQL twin DuckDB runs on the same parquet. Reference
citations in each docstring point at the pandas/SQL site whose
semantics the query re-expresses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import aqi_category, aqi_category_sql
from ..operators.dedupe import keep_first
from ..operators.filters import anti_join, cdc_window, not_in
from ..operators.merge import merge_upsert
from .registry import load, load_spread, query

# --------------------------------------------------------------------------
# §2.1 scans + §2.2 projections
# --------------------------------------------------------------------------


@query(
    "s4_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    """,
)
def s4_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/P3: projected scan with a pushed-down predicate.

    The reference prunes columns by hand in every ORM query
    (``dags/etl/stage_to_nds.py:38-39,87-100,182-200``); here Catalyst
    prunes to ReadSchema and pushes the range filter into the parquet
    scan (row-group min/max skipping) — verified in tests via
    ``PushedFilters`` in the formatted plan.
    """
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
        .filter(F.col("l_shipdate") < "1996-01-01 00:00:00")
    )


@query(
    "p1_rename_trim",
    oracle="""
    SELECT c_custkey AS customer_key,
           trim(c_name) AS customer_name,
           c_mktsegment AS segment
    FROM customer
    """,
)
def p1_rename_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 bulk rename + X1 trim (``dags/etl/source_to_stage.py:55-68,75``)."""
    return load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_key"),
        F.trim(F.col("c_name")).alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
    )


@query(
    "p4_derived_columns",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS measured_date,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           1 AS source_id
    FROM orders
    """,
)
def p4_derived_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 date-from-timestamp + P6 constant source_id
    (``dags/etl/source_to_stage.py:70``, ``dags/etl/stage_to_nds.py:27``).

    Surfaced as a midnight timestamp rather than DATE: DuckDB/pandas
    render DATE as datetime64 anyway, so a timestamp keeps the driver's
    value comparison representation-identical on both sides.
    """
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("day", F.col("o_orderdate")).alias("measured_date"),
        F.year("o_orderdate").alias("order_year"),
        F.lit(1).alias("source_id"),
    )


# --------------------------------------------------------------------------
# §2.3 filters
# --------------------------------------------------------------------------


@query(
    "f1_cdc_window",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <= TIMESTAMP '1997-06-30 23:59:59'
    """,
)
def f1_cdc_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: the CDC window ``lset <= ts <= cet``, inclusive both ends
    (``dags/etl/source_to_stage.py:73``)."""
    df = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    return cdc_window(df, "l_shipdate", "1997-01-01 00:00:00", "1997-06-30 23:59:59")


@query(
    "f4_not_in",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def f4_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: NOT IN with faithful three-valued null semantics
    (``dags/etl/stage_to_nds.py:120``)."""
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load(spark, sf_dir, "orders")
    return not_in(customer, "c_custkey", orders, "o_custkey")


@query(
    "f5_not_exists",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events)
    SELECT DISTINCT user_id, event_type
    FROM ev e
    WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
      AND NOT EXISTS (
        SELECT 1 FROM ev e2
        WHERE e2.ts >= TIMESTAMP '2024-01-15 00:00:00'
          AND e2.user_id = e.user_id AND e2.event_type = e.event_type
      )
    """,
)
def f5_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: composite-key NOT EXISTS anti-join
    (``dags/etl/stage_to_nds.py:132-135``)."""
    events = load(spark, sf_dir, "events")
    early = (
        events.filter(F.col("ts") < "2024-01-15 00:00:00")
        .select("user_id", "event_type")
        .distinct()
    )
    late = events.filter(F.col("ts") >= "2024-01-15 00:00:00")
    return anti_join(early, late, ["user_id", "event_type"])


# --------------------------------------------------------------------------
# §2.4 joins
# --------------------------------------------------------------------------


@query(
    "j1_full_outer",
    oracle="""
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           c.n_customers, s.n_suppliers
    FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers
          FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
          FROM supplier GROUP BY 1) s
    USING (nationkey)
    """,
)
def j1_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: full-outer key-universe merge, the Spark shape of the
    reference's state-sets outer merge (``dags/etl/stage_to_nds.py:44``)."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, "nationkey", "full_outer")


@query(
    "j2_star_join_agg",
    oracle="""
    SELECT n_name,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def j2_star_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3/J5: fact ⋈ broadcast dims (``dags/etl/stage_to_nds.py:105,119,209``).

    nation/region are hint-broadcast (bounded at 25/5 rows at any
    scale); customer carries no forced hint — it is broadcast-sized at
    test scale but grows with SF, so size statistics/AQE decide. The
    orders fact never shuffles for the small joins (the only shuffle is
    the final group-by). The double sum goes through DECIMAL so the
    result is exact and partitioning-independent.
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@query(
    "j4_composite_join",
    oracle="""
    WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
                FROM events)
    SELECT e.event_id, e.user_id, e.event_type, f.first_ts
    FROM ev e
    JOIN (SELECT user_id, event_type, min(ts) AS first_ts
          FROM ev GROUP BY 1, 2) f
      ON e.user_id = f.user_id AND e.event_type = f.event_type
    """,
)
def j4_composite_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: composite-key equi-join (``dags/etl/stage_to_nds.py:210``)."""
    events = load(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts")
    )
    return events.select("event_id", "user_id", "event_type").join(
        F.broadcast(first_seen), ["user_id", "event_type"]
    )


@query(
    "j6_merge_upsert",
    oracle="""
    WITH target AS (
      SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ),
    source AS (
      SELECT o_orderkey, o_custkey,
             'U' AS o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-06-01 00:00:00'
    )
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_custkey ELSE s.o_custkey END AS o_custkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderdate ELSE s.o_orderdate END AS o_orderdate,
           CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderpriority ELSE s.o_orderpriority END AS o_orderpriority
    FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    """,
)
def j6_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: the reference's row-at-a-time upsert
    (``dags/etl/stage_to_nds.py:141-176``) as ONE full-outer-join MERGE:
    matched keys take the source's updated status/price, unmatched
    target rows survive, source-only keys insert."""
    orders = load(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderdate") < "1998-01-01 00:00:00")
    source = orders.filter(
        (F.col("o_orderdate") >= "1997-06-01 00:00:00")
        & (F.col("o_orderdate") < "1998-06-01 00:00:00")
    ).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    return merge_upsert(
        target, source, keys=["o_orderkey"], update_cols=["o_orderstatus", "o_totalprice"]
    )


# --------------------------------------------------------------------------
# §2.5 dedup / distinct + set ops
# --------------------------------------------------------------------------


@query(
    "a1_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def a1_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: projected DISTINCT (``dags/etl/stage_to_nds.py:38-39,117``)."""
    return load(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "a3_keepfirst_dedup",
    oracle="""
    SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_shipdate
    FROM lineitem
    QUALIFY row_number() OVER (
      PARTITION BY l_partkey, l_suppkey
      ORDER BY l_shipdate, l_orderkey, l_linenumber) = 1
    """,
)
def a3_keepfirst_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: deterministic keep-first dedup on a composite natural key —
    the reference relies on pandas row order (``dags/etl/stage_to_nds.py:211``);
    we make the order explicit (earliest shipdate, tiebroken fully)."""
    df = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate"
    )
    return keep_first(
        df,
        keys=["l_partkey", "l_suppkey"],
        order_by=["l_shipdate", "l_orderkey", "l_linenumber"],
        pre_partition=True,  # mostly-unique keys + single-split input
    )


@query(
    "u1_set_ops",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def u1_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation surface (beyond the reference, SURVEY.md §2.5 notes
    none exist there): INTERSECT of two filtered key sets."""
    orders = load(spark, sf_dir, "orders")
    y95 = orders.filter(
        (F.col("o_orderdate") >= "1995-01-01 00:00:00")
        & (F.col("o_orderdate") < "1996-01-01 00:00:00")
    ).select("o_custkey")
    y96 = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-01-01 00:00:00")
    ).select("o_custkey")
    return y95.intersect(y96)


# --------------------------------------------------------------------------
# §2.6 scalar functions
# --------------------------------------------------------------------------


@query(
    "x4_aqi_categorize",
    oracle=f"""
    WITH synth AS (
      SELECT CAST((l_orderkey * 7 + l_linenumber * 13) % 420 - 10 AS INTEGER)
             AS aqi_value
      FROM lineitem
    )
    SELECT {aqi_category_sql("aqi_value")} AS aqi_category,
           count(*) AS n,
           min(aqi_value) AS min_aqi,
           max(aqi_value) AS max_aqi
    FROM synth
    GROUP BY 1
    """,
)
def x4_aqi_categorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: the 6-bucket AQI CASE (``dags/etl/source_to_stage.py:110-125``)
    as a codegen'd when-chain — no Python UDF. The synthetic aqi_value
    covers every bucket plus negatives (→ Unknown), exercising the
    reference's exact gap/else contract."""
    df = load(spark, sf_dir, "lineitem").select(
        ((F.col("l_orderkey") * 7 + F.col("l_linenumber") * 13) % 420 - 10)
        .cast("int")
        .alias("aqi_value")
    )
    return (
        df.withColumn("aqi_category", aqi_category(F.col("aqi_value")))
        .groupBy("aqi_category")
        .agg(
            F.count("*").alias("n"),
            F.min("aqi_value").alias("min_aqi"),
            F.max("aqi_value").alias("max_aqi"),
        )
    )


# --------------------------------------------------------------------------
# aggregation / window surface (beyond the reference; engine completeness)
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary — the flagship scan-heavy
    aggregate. All money sums in DECIMAL (exact, order-independent),
    surfaced as DOUBLE."""
    li = load_spread(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02 00:00:00"
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
        F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
        .cast("double")
        .alias("sum_charge"),
        (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@query(
    "g1_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def g1_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (engine surface; none in reference)."""
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "g2_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def g2_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on l_linestatus with explicit value list (bounded output
    columns — required for a deterministic schema at any scale)."""
    out = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
    )
    return out.withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")


@query(
    "w1_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER (
             PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
    FROM orders
    QUALIFY rn <= 3
    """,
)
def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group: window + row_number, fully tiebroken. Scales as
    one shuffle on the group key — never a global sort."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@query(
    "w2_running_sum",
    oracle="""
    WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
                FROM events)
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_value
    FROM ev
    """,
)
def w2_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user sum in DECIMAL surfaced as DOUBLE — windowed
    double sums are NOT portable (DuckDB's windowed SUM uses segment
    trees, Spark accumulates in frame order; last-ulp drift either way),
    decimal addition is exact in any association order."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .withColumn(
            "running_value",
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double"),
        )
        .drop("value")
    )


@query(
    "w3_lag_lead_ntile",
    oracle="""
    SELECT o_orderkey, o_custkey,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST(ntile(4) OVER w AS INTEGER) AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w3_lag_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset window functions (lag/lead) + ntile bucketing in one
    per-customer window — fully tiebroken order (orderdate, orderkey)
    so every offset value is deterministic. One shuffle on the
    partition key serves all three functions."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("price_quartile"),
    )


@query(
    "w4_range_frame",
    oracle="""
    WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
                FROM events)
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS hour_value
    FROM ev
    """,
)
def w4_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (time-interval) window frame — the trailing-hour rolling
    sum per user. Unlike a ROWS frame, peers with the same timestamp
    share a frame, so no tiebreak is needed for determinism; Spark
    expresses the interval bound as a rangeBetween over epoch
    MICROseconds — full timestamp precision, so same-second events
    with different sub-second parts are NOT frame peers (matches the
    oracle's RANGE INTERVAL 1 HOUR at native precision; whole-second
    ordering diverged at sf0.1)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .withColumn(
            "hour_value",
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double"),
        )
        .drop("value")
    )


@query(
    "ts1_gap_fill",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             CAST(count(*) AS BIGINT) AS n_events
      FROM ev GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM ev
    ),
    calendar AS (
      SELECT t.hour_ts FROM bounds,
             UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(hour_ts)
    ),
    types AS (SELECT DISTINCT event_type FROM ev)
    SELECT ty.event_type, c.hour_ts,
           COALESCE(h.n_events, 0) AS n_events
    FROM calendar c CROSS JOIN types ty
    LEFT JOIN hourly h
      ON h.event_type = ty.event_type AND h.hour_ts = c.hour_ts
    """,
)
def ts1_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling / resampling: hourly counts per event
    type with EVERY hour in the global span present (missing hours →
    0) — the dense-calendar shape every downstream window/forecast
    model needs. The calendar is sequence()-generated from a 1-row
    bounds aggregate (broadcast cross join), the type dim is a
    broadcast distinct, and the only real shuffle is the hourly
    pre-aggregation."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
    )
    hourly = ev.groupBy("event_type", "hour_ts").agg(
        F.count("*").alias("n_events")
    )
    bounds = ev.agg(
        F.min("hour_ts").alias("lo"), F.max("hour_ts").alias("hi")
    )
    calendar = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts")
    )
    types = ev.select("event_type").distinct()
    return (
        calendar.join(F.broadcast(types))
        .join(hourly, ["event_type", "hour_ts"], "left_outer")
        .select(
            "event_type",
            "hour_ts",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# additional relational surface (engine completeness beyond the reference)
# --------------------------------------------------------------------------


@query(
    "u3_set_ops_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def u3_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set op (INTERSECT ALL keeps duplicate
    multiplicity = min of the two sides) — the multiset twin of u1's
    distinct set ops."""
    orders = load(spark, sf_dir, "orders")
    open_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    urgent_cust = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return open_cust.intersectAll(urgent_cust)


@query(
    "x9_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, CAST(value AS DOUBLE) AS value
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_tax
          FROM lineitem)
    UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_tax))
    """,
)
def x9_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: wide measures → long (key, measure, value) form
    — the inverse of g2's pivot, a narrow per-row expansion with no
    shuffle."""
    return load(spark, sf_dir, "lineitem").unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_tax"],
        "measure",
        "value",
    )


@query(
    "split1_train_val",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN (({{ce}} % 100) + 100) % 100 < 90 THEN 'train'
                ELSE 'val' END AS split
    FROM documents
    """.replace(
        "{ce}",
        "((('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT"
        " - CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT"
        " >= 2147483648 THEN 4294967296 ELSE 0 END) * 4294967296"
        " + ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),9,8))::BIGINT)",
    ),
)
def split1_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train-val split by cross-engine hash of the
    doc id — the reproducible alternative to rand()-based sampling: the
    assignment is a pure function of the id, so it is stable across
    runs, engines, partitionings, and corpus growth (a doc never
    changes split when new docs arrive — the property rand(seed) does
    NOT give you). Zero shuffle, zero state."""
    from ..functions.dedup import ce_hash64

    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.pmod(ce_hash64(F.col("doc_id").cast("string")), F.lit(100)) < 90,
            F.lit("train"),
        )
        .otherwise(F.lit("val"))
        .alias("split"),
    )


@query(
    "j11_salted_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def j11_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salted join in the oracle gate: lineitem salted across
    8 salt values, orders replicated per salt — result provably equals
    the plain join (the oracle IS the plain join). On a skew-free
    corpus this only proves correctness; the hot-key spreading is
    asserted separately in tests/test_scale_ops.py."""
    from ..operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, orders, ["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty")
        )
    )


@query(
    "scd2_history",
    oracle="""
    WITH changed AS (
      SELECT c_custkey, c_acctbal,
             (c_custkey % 7 <> 0 AND c_custkey % 2 = 0
              AND c_acctbal <> c_acctbal * 2) AS chg,
             (c_custkey % 7 <> 0) AS in_src2
      FROM customer
    )
    SELECT c_custkey, c_acctbal,
           TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
           CASE WHEN chg THEN TIMESTAMP '2024-02-01 00:00:00' END AS valid_to,
           NOT chg AS is_current
    FROM changed
    UNION ALL
    SELECT c_custkey, c_acctbal * 2,
           TIMESTAMP '2024-02-01 00:00:00', NULL, true
    FROM changed WHERE chg
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 in the oracle gate: init a history table from the
    customer snapshot at t1, then upsert a second snapshot at t2
    (balances doubled for even keys; keys divisible by 7 absent —
    untouched). The oracle reconstructs the exact expected history
    with set logic: changed keys get a closed old version + open new
    version, everything else stays a single open row. Doubling is an
    exact IEEE op, so the tracked-column change detection and the
    surfaced values are bit-identical across engines."""
    from datetime import datetime

    from ..operators.scd2 import scd2_init, scd2_upsert

    t1, t2 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    snap1 = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    snap2 = snap1.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 2 == 0, F.col("c_acctbal") * 2
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    target = scd2_init(snap1, t1)
    return scd2_upsert(
        target, snap2, keys=["c_custkey"], tracked_cols=["c_acctbal"],
        effective_ts=t2,
    )


@query(
    "u2_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def u2_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set difference) — the set-op twin of the
    NOT-IN backfill F4."""
    customers = load(spark, sf_dir, "customer").select("c_custkey")
    orderers = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customers.subtract(orderers)


@query(
    "j7_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def j7_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive EXISTS via left_semi — no right-side columns, no
    duplication, half the shuffle of an inner join + distinct."""
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.join(big, on="c_custkey", how="left_semi")


@query(
    "j8_left_outer_agg",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
             AS total_spent
    FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def j8_left_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count of NULL
    keys is 0, sum coalesced) — the fact side shuffles once on the
    join key, which doubles as the group key: Catalyst reuses the
    partitioning, no second exchange."""
    customer = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    joined = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_outer"
    )
    return joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.coalesce(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.lit(0))
        .cast("double")
        .alias("total_spent"),
    )


@query(
    "o1_global_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def o1_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject
    (per-partition heaps + driver merge of k rows), NOT a global sort —
    the difference between O(n log k) and a full shuffle at 100 TB."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@query(
    "o2_global_sort",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice,
           CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey)
                AS BIGINT) AS rank_asc
    FROM orders
    WHERE o_totalprice > 400000
    """,
)
def o2_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True total ordering (no limit): a RANGE-partitioned sort —
    Spark samples the key distribution and assigns contiguous key
    ranges to partitions, so the sort parallelizes instead of
    collapsing to one task (o1's top-k heap is the LIMIT sibling; this
    is the shape for full ordered exports). The global rank makes the
    ordering itself value-checkable: the filter keeps the ranked set
    small enough that a fully tiebroken row_number is deterministic,
    while the single-partition window cost is bounded by the
    pre-filter — the documented pattern for 'rank a small result of a
    big scan'."""
    big = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .filter(F.col("o_totalprice") > 400000)
    )
    w = Window.orderBy("o_orderdate", "o_orderkey")
    return big.sort("o_orderdate", "o_orderkey").withColumn(
        "rank_asc", F.row_number().over(w).cast("bigint")
    )


@query(
    "g4_distinct_agg",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def g4_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact distinct aggregation (Spark expands to a
    two-phase plan; approx_count_distinct is the sketch alternative
    when exactness isn't required — not oracle-comparable, so the
    exact form is registered)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "x5_json_extract",
    oracle="""
    WITH ev AS (SELECT event_id, props FROM events)
    SELECT event_id,
           CASE WHEN json_valid(props)
                THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
           END AS k_value
    FROM ev
    """,
)
def x5_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events props column — JVM-side
    get_json_object, no UDF."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


@query(
    "x6_string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           CAST(length(c_name) AS INTEGER) AS name_len,
           concat(c_mktsegment, '#', CAST(c_custkey AS VARCHAR)) AS segment_key,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key
    FROM customer
    """,
)
def x6_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string surface: upper/substr/length/concat/lpad (X1's
    trim sits in p1_rename_trim)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat(
            F.col("c_mktsegment"), F.lit("#"), F.col("c_custkey").cast("string")
        ).alias("segment_key"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
    )


@query(
    "x7_array_hof",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(t, x -> length(x) > 4)) AS INTEGER) AS n_long,
           -- Spark's aggregate() folds an EMPTY array to its zero
           -- accumulator (0), where list_sum([]) is NULL — coalesce,
           -- but keep NULL text (t IS NULL) surfacing as NULL on both
           CAST(CASE WHEN t IS NULL THEN NULL
                ELSE COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
                END AS BIGINT) AS total_chars,
           CAST(list_max(list_transform(t, x -> length(x))) AS INTEGER)
             AS max_token_len,
           CAST(len(list_filter(t, x -> regexp_matches(x, '^[A-Z]')))
                AS INTEGER) AS n_capitalized
    FROM toks
    """,
)
def x7_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — transform / filter / aggregate
    lambdas over the token array, entirely JVM-side (Catalyst evaluates
    the lambdas; no Python). The per-document array never leaves its
    row: zero shuffles, zero explodes — the pattern that replaces
    explode+groupBy re-aggregation for per-row array metrics at
    100 TB."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    tok_lens = F.transform(toks, lambda t: F.length(t))
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long"),
        F.aggregate(
            tok_lens, F.lit(0).cast("bigint"), lambda acc, n: acc + n
        ).alias("total_chars"),
        F.array_max(tok_lens).alias("max_token_len"),
        F.size(F.filter(toks, lambda t: t.rlike("^[A-Z]"))).alias("n_capitalized"),
    )


@query(
    "x8_map_ops",
    oracle="""
    WITH ev AS (
      SELECT event_id, props,
             -- Spark's from_json('map<string,bigint>') yields NULL for
             -- anything but a JSON OBJECT whose every value is an
             -- integer (nested objects, strings, arrays, malformed,
             -- empty string all degrade to a NULL map) — replicate
             -- that validity test exactly
             CASE WHEN COALESCE(json_valid(props), FALSE)
                  THEN json_type(props) = 'OBJECT'
                       AND len(list_filter(json_keys(props),
                             k -> json_type(props, '$."' || k || '"')
                                  NOT IN ('BIGINT', 'UBIGINT'))) = 0
                  ELSE FALSE END AS ok
      FROM events
    )
    SELECT event_id,
           CASE WHEN ok THEN CAST(len(json_keys(props)) AS INTEGER)
           END AS n_props,
           CASE WHEN ok THEN list_sort(json_keys(props))[1] END AS first_key,
           CASE WHEN ok THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
           END AS k_value,
           CASE WHEN ok
                THEN json_extract_string(props, '$.missing') IS NOT NULL
                ELSE FALSE END AS has_missing
    FROM ev
    """,
)
def x8_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed column surface: parse props into ``map<string,long>``
    once, then map_keys / cardinality / element_at / contains — the
    typed alternative to repeated JSON path extraction (one parse per
    row instead of one per field)."""
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_props"),
        # F.get, not getItem: an empty JSON object has zero keys and
        # getItem(0) raises ANSI INVALID_ARRAY_INDEX on it
        F.get(F.array_sort(F.map_keys(m)), F.lit(0)).alias("first_key"),
        F.element_at(m, "k").alias("k_value"),
        F.element_at(m, "missing").isNotNull().alias("has_missing"),
    )


@query(
    "q5_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped multi-join: lineitem ⋈ orders (the one big
    shuffle pair) with customer/supplier/nation/region broadcast; the
    local-supplier condition (s_nationkey = c_nationkey) rides the
    supplier broadcast join."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1998-01-01 00:00:00")
    )
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (supplier.s_nationkey == customer.c_nationkey),
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return joined.groupBy("n_name").agg(
        F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue")
    )


@query(
    "g5_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def g5_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations in one pass (Spark
    expands to a single Expand + aggregate — one shuffle, not 4)."""
    return (
        load_spread(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "j9_asof_join",
    oracle="""
    WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
                FROM events)
    SELECT event_id, user_id, ts, event_type,
           last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_ts
    FROM ev
    """,
)
def j9_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native operator): for every event, the
    most recent purchase at-or-before it for the same user, composed as
    an ignore-nulls last() over an ordered window — one shuffle on the
    partition key, no range-join blowup. The same pattern implements
    point-in-time feature lookups; for two-table as-of, union the
    tagged sides first (SNIPPETS.md pattern) or use
    ``applyInPandas`` + ``pd.merge_asof`` per key group."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = load(spark, sf_dir, "events")
    return ev.select("event_id", "user_id", "ts", "event_type").withColumn(
        "last_purchase_ts",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
        ).over(w),
    )


@query(
    "j10_asof_two_table",
    oracle="""
    WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                       event_type, value
                FROM events),
    scored AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER w AS last_purchase_ts,
             last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER w AS last_purchase_value
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, last_purchase_ts, last_purchase_value
    FROM scored WHERE event_type = 'view'
    """,
)
def j10_asof_two_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table as-of join via the union-tag operator
    (:func:`...operators.asof.asof_join`): every 'view' event gets the
    ts/value of the user's latest 'purchase' at-or-before it. One
    shuffle on user_id; no range-join blowup, no Python."""
    from ..operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("ts").alias("last_purchase_ts"),
        F.col("value").alias("last_purchase_value"),
    )
    return asof_join(
        views,
        purchases,
        keys=["user_id"],
        left_ts="ts",
        right_ts="p_ts",
        value_cols=["last_purchase_ts", "last_purchase_value"],
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: the segment filter rides the customer dim (AQE
    broadcasts it while it fits; no forced hint — customer grows with
    SF), both date filters push into the scans, top-10 via
    TakeOrdered."""
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-03-15 00:00:00"
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-03-15 00:00:00"
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10 shape: returned-item revenue per customer, one quarter;
    lineitem⋈orders is the only guaranteed-big pair — nation is
    hint-broadcast, customer is AQE-sized (it grows with SF)."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-04-01 00:00:00")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "g7_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def g7_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (by-flag totals ∪ by-status totals in one
    pass) — rollup/cube's general form, one Expand + aggregate."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        )
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 shape: IN over a HAVING aggregate → a left-semi join
    against the pre-aggregated key set. The aggregate reduces lineitem
    to order grain BEFORE any join, so the semi probe side is small;
    both aggregations share the l_orderkey shuffle key."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("__q"))
        .filter(F.col("__q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big_orders, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty).cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )
