"""Oracle-backed registry entries that exercise the REAL Structured
Streaming operators (not their batch twins): each runs a streaming
query to completion against the events parquet (file source,
availableNow trigger, memory sink) and returns the materialized result,
so the driver's DuckDB comparison gates the streaming path itself.

Determinism notes (why these can hash-match a batch oracle):

- availableNow over the single-row-group test parquet = one
  micro-batch, so the initial watermark (epoch 0) never evicts state
  mid-run: ``dropDuplicatesWithinWatermark`` degenerates to exact
  global dedup and windowed aggregation covers every window.
- st1 projects the dedup output down to its key columns AFTER the
  sink: WHICH duplicate row survives is first-arrival
  (partition-order) nondeterministic, but the keys themselves are not.
- Streaming event time must be TIMESTAMP (watermarks reject NTZ), so
  each query pins the session time zone to UTC for its call
  (``_utc_query``) and casts results back to NTZ to line up with the
  batch loader / DuckDB wall times.

At 100 TB these same plans run unbounded (Kafka source, real
watermarks); the bounded replay here is the correctness harness,
mirroring `tests/test_streaming.py`'s batch-twin strategy.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.ops import session_conf
from .registry import QueryFn, query

def _utc_query(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """``@query`` that runs the function under a UTC session time zone
    and hands the caller's zone back afterwards. The returned frame
    keeps UTC semantics: Spark binds the zone into its casts when the
    frame is analyzed, which happens inside the call."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            with session_conf(spark, "spark.sql.session.timeZone", "UTC"):
                return fn(spark, sf_dir)

        return query(name, oracle)(pinned)

    return deco


@_utc_query(
    "st1_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def st1_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` on a live streaming query:
    bounded-state exactly-once-per-key dedup (keys age out with the
    watermark on an unbounded stream — the scale-safe alternative to
    global dropDuplicates whose state grows forever). Single-batch
    replay makes it equal exact DISTINCT, which is the oracle."""
    from ..streaming.ops import (
        dedup_within_watermark,
        read_events_stream,
        run_to_memory,
    )

    stream = read_events_stream(spark, sf_dir)
    deduped = dedup_within_watermark(stream, keys=["user_id", "event_type"])
    out = run_to_memory(deduped, "st1_stream_dedup_sink", mode="append")
    return out.select("user_id", "event_type")


@_utc_query(
    "st2_stream_windowed",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM ev
    GROUP BY 1, 2, 3
    """,
)
def st2_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation on a live streaming
    query (the streaming twin of e1, which is its oracle): decimal
    sums keep the totals bit-reproducible at any parallelism, and the
    complete-output memory sink surfaces every window once the
    availableNow replay drains."""
    from ..streaming.ops import read_events_stream, run_to_memory, windowed_counts

    stream = read_events_stream(spark, sf_dir)
    wc = windowed_counts(stream)
    out = run_to_memory(wc, "st2_stream_windowed_sink", mode="complete")
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )


@_utc_query(
    "st3_stream_stream_join",
    oracle="""
    WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                       event_type
                FROM events)
    SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM ev v
    JOIN ev c ON v.user_id = c.user_id
             AND v.event_type = 'view' AND c.event_type = 'click'
             AND c.ts >= v.ts
             AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def st3_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream self-join on a live streaming query:
    every click attributed to same-user views in the preceding 30
    minutes. The time-bounded condition is what makes join state
    expirable on an unbounded stream; the single-batch availableNow
    replay emits exactly the batch join, which is the oracle. Output
    keys (view_id, click_id) are unique per match, so the result is
    fully deterministic."""
    from ..streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_stream_attribution_join,
    )

    stream = read_events_stream(spark, sf_dir)
    joined = stream_stream_attribution_join(stream)
    out = run_to_memory(joined, "st3_join_sink", mode="append")
    return out.select(
        "user_id",
        "view_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )


@_utc_query(
    "st4_stream_session_window",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events),
    marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def st4_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` aggregation on a live streaming query
    — Spark's dynamic-gap session operator (state merges adjacent
    windows as events arrive, the streaming-native form of e2's
    batch lag/cumsum sessionization, which is the oracle here: a new
    session starts only at gap > 30min — Spark merges the exact-gap
    boundary inclusively, verified by the exact-boundary fixture in
    tests/test_adversarial_events.py). Complete-mode memory
    sink: the availableNow replay drains one batch, so every session
    is final when read. Session end = last event + gap, matching the
    oracle's max(ts) + INTERVAL."""
    from ..streaming.ops import read_events_stream, run_to_memory

    stream = read_events_stream(spark, sf_dir)
    sessions = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    out = run_to_memory(sessions, "st4_session_sink", mode="complete")
    return out.select(
        F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
        "user_id",
        "n_events",
        "total_value",
    )


@_utc_query(
    "st5_stream_static_join",
    oracle="""
    SELECT event_id, user_id, c_mktsegment
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def st5_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join on a live streaming query — the dimension
    -enrichment operator class st1-st4 don't cover: the stream side is
    unbounded, the customer dim is a plain batch DataFrame re-read
    per micro-batch (which is how Spark picks up dim updates between
    batches with NO state at all — a stream-stream join would pay
    watermarked state for a table that isn't moving). Row-level
    append output, no aggregation: the result is the batch join
    exactly, which is the oracle. At scale the static side is
    broadcast when small; no watermark is needed because only
    stream-stream joins and aggregations hold state."""
    from ..sources.readers import load_table
    from ..streaming.ops import read_events_stream, run_to_memory

    stream = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(
        dim, stream.user_id == dim.c_custkey, "inner"
    ).select("event_id", "user_id", "c_mktsegment")
    out = run_to_memory(joined, "st5_dim_join_sink", mode="append")
    return out


@_utc_query(
    "st6_stream_merge_upsert",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value, event_id
      FROM events
    ),
    latest AS (
      SELECT user_id, ts, event_type, value
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev
      ) WHERE rn = 1
    )
    SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value
    FROM latest
    """,
)
def st6_stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert — the reference's measurement MERGE (J6,
    ``dags/etl/stage_to_nds.py:141-176``) as a LIVE streaming sink:
    ``foreachBatch`` compacts each micro-batch to its newest row per
    user (deterministic (ts, event_id) tiebreak), then runs the same
    ``merge_upsert`` the batch pipeline uses against the parquet
    warehouse with stage-and-swap. The target is pre-seeded with the
    EARLIEST event of every even user, so one replay exercises BOTH
    merge arms: even users must be UPDATED past the stale seed, odd
    users INSERTED. Final state = newest event per user, which is the
    batch oracle.

    Scale: per-batch compaction bounds merge input to one row per key
    per batch; the merge itself is the key-partitioned full-outer join
    (at deployment scale the swap becomes Delta/Iceberg MERGE INTO
    with an unchanged logical plan, and this exact foreachBatch shape
    is the standard Kafka→lakehouse CDC consumer)."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from ..operators.merge import merge_upsert
    from ..pipelines.warehouse import Warehouse
    from ..sources.readers import load_table
    from ..streaming.ops import read_events_stream

    stream = read_events_stream(spark, sf_dir)

    def _compact(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                F.col("ts").cast("timestamp_ntz").alias("last_ts"),
                F.col("event_type").alias("last_event_type"),
                F.col("value").alias("last_value"),
            )
        )

    ev = load_table(spark, sf_dir, "events")
    stale_w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seed = (
        ev.filter(F.col("user_id") % 2 == 0)
        .withColumn("__rn", F.row_number().over(stale_w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("ts").cast("timestamp_ntz").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        wh.overwrite(
            merge_upsert(
                wh.read("user_latest"), _compact(batch_df), keys=["user_id"]
            ),
            "user_latest",
        )

    root = tempfile.mkdtemp(prefix="st6_wh_")
    try:
        wh = Warehouse(spark, root)
        wh.overwrite(seed, "user_latest")
        q = (
            stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # One row per user: held in the returned plan, so the warehouse
        # directory can go before the call returns.
        latest = wh.read("user_latest").select(
            "user_id", "last_ts", "last_event_type", "last_value"
        )
        return spark.createDataFrame(latest.collect(), latest.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _ensure_protobuf(spark: SparkSession) -> None:
    """Make ``google.protobuf`` importable in the DRIVER and every
    Python WORKER when the environment lacks it (the
    transformWithState state-server protocol imports it on both
    sides): :func:`...vendored.provide_protobuf` puts the vendored zip
    on the driver's sys.path, and ``sc.addPyFile`` ships it to workers
    — the one runtime mechanism that reaches workers after the JVM is
    already up (the driver contract hands us a running vanilla
    session, so env PYTHONPATH is frozen; the streaming-runner
    subprocess is instead covered by __spark_entry__'s import-time
    call)."""
    from ..vendored import provide_protobuf

    zip_path = provide_protobuf()
    if zip_path is not None:
        spark.sparkContext.addPyFile(zip_path)


@_utc_query(
    "st7_stream_tws_user_stats",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def st7_stream_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (count, sum, max) on Spark 4's
    ``transformWithStateInPandas`` StatefulProcessor — the successor
    stateful API (typed handle-managed ValueState, first-class timers,
    multiple named state variables per processor), run as a REAL
    streaming query the oracle gates: availableNow replay over the
    events parquet must equal the batch GROUP BY exactly.

    Exactness across the Python hop: the sum accumulates INTEGER
    micro-units pre-scaled JVM-side (``CAST(value AS DECIMAL(18,6)) ×
    1e6 → BIGINT``) — integer addition is order-independent, so the
    partition-order-dependent arrival of a user's rows can never
    change a bit, and the final decimal division reproduces the
    oracle's ``SUM(DECIMAL(18,6))`` identically. (A float accumulator
    here would hash-mismatch on arrival order — the same reason batch
    plans route double sums through DECIMAL.)

    Runtime shape: state store must support column families →
    RocksDBStateStoreProvider (set for this query, restored after;
    it is also the provider a production tws deployment runs).
    ``google.protobuf`` is provisioned by :func:`_ensure_protobuf`
    (vendored runtime: driver via sys.path, workers via addPyFile) —
    the StatefulProcessor class itself is defined inside this function
    so cloudpickle ships it by value, never by package reference."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..streaming.ops import read_events_stream, run_to_memory

    _ensure_protobuf(spark)
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_micros", T.LongType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("tm", T.LongType()),
            T.StructField("mx", T.DoubleType()),
        ]
    )

    class _UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n = 0
            tm = 0
            mx = None
            for pdf in rows:
                n += len(pdf)
                tm += int(pdf["value_micros"].sum())
                m = pdf["value"].max()
                if mx is None or (m == m and m > mx):
                    mx = float(m)
            if self._st.exists():
                pn, ptm, pmx = self._st.get()
                n += pn
                tm += ptm
                if mx is None or (pmx is not None and pmx > mx):
                    mx = pmx
            self._st.update((n, tm, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_micros": [tm],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    with session_conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    ):
        stream = read_events_stream(spark, sf_dir).select(
            "user_id",
            "value",
            (F.col("value").cast("decimal(18,6)") * 1_000_000)
            .cast("long")
            .alias("value_micros"),
        )
        stats = stream.groupBy("user_id").transformWithStateInPandas(
            _UserStats(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        out = run_to_memory(stats, "st7_tws_user_stats_sink", mode="update")
    return out.select(
        "user_id",
        "n_events",
        (
            F.col("total_micros").cast("decimal(38,6)") / 1_000_000
        )
        .cast("double")
        .alias("total_value"),
        "max_value",
    )


@_utc_query(
    "st8_stream_outer_join",
    oracle="""
    WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                       event_type
                FROM events),
    wm AS (SELECT least(
             max(CASE WHEN event_type = 'view' THEN ts END),
             max(CASE WHEN event_type = 'click' THEN ts END)) AS wm
           FROM ev)
    SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM ev v
    CROSS JOIN wm
    LEFT JOIN ev c ON v.user_id = c.user_id
                  AND c.event_type = 'click'
                  AND c.ts >= v.ts
                  AND c.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view'
      AND v.ts + INTERVAL 30 MINUTE + INTERVAL 1 SECOND < wm.wm
    """,
)
def st8_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join on a live streaming
    query: st3's attribution join, plus every view with NO same-user
    click in the following 30 minutes emitted once with null click
    columns — the conversion-funnel "view that never converted" feed.

    An outer result may only surface once the watermark proves no
    in-window click can still arrive, so a bounded replay leaves the
    LAST views' outcomes undetermined in join state — un-emittable
    without lying. The query therefore reports FINALIZED attributions
    only: a deterministic post-filter (identical in the oracle) keeps
    views whose window is provably closed, ``view_ts + 30min + 1s <
    min(max view_ts, max click_ts)`` — the watermark value the
    zero-delay replay itself reaches (multipleWatermarkPolicy=min
    across the two sides), with a 1 s guard so neither engine's
    eviction-boundary nudge (Spark holds state to wm − 1 ms) can
    straddle a row. The closed-window bound rides a broadcast 1-row
    aggregate (the dq1 shape), never a driver collect; the no-data
    final micro-batch (SPARK-24156, on by default) is what advances
    the watermark and flushes the unmatched rows."""
    from ..sources.readers import load_table
    from ..streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_stream_attribution_join,
    )

    stream = read_events_stream(spark, sf_dir)
    joined = stream_stream_attribution_join(
        stream, watermark="0 seconds", how="left_outer"
    )
    out = run_to_memory(joined, "st8_outer_sink", mode="append")
    wm = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            ).alias("wm")
        )
    )
    return (
        out.crossJoin(F.broadcast(wm))
        .filter(
            F.col("view_ts") + F.expr("INTERVAL 30 MINUTE")
            + F.expr("INTERVAL 1 SECOND")
            < F.col("wm")
        )
        .select(
            "user_id",
            "view_id",
            F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
            "click_id",
            F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        )
    )
