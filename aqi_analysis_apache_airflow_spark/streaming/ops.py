"""Structured Streaming surface over the events table (SURVEY.md §2.8,
§7 phase 6).

The reference has no streaming: its CET/LSET bookkeeping + CDC filter
(``dags/etl/source_to_stage.py:73``) is a hand-rolled batch watermark
that SILENTLY DROPS late rows. This module is the principled version:

- ``withWatermark`` bounds state and defines lateness explicitly;
- a watermarked tumbling window replaces the one-shot [lset, cet]
  bucket (batch twin: e1_tumbling_window, same results on the same
  data, verified in tests);
- ``dropDuplicatesWithinWatermark`` dedups with bounded state;
- a watermarked, time-bounded stream-stream join attributes clicks to
  views.

The registry's streaming queries (plans/streaming_q.py) are built from
these. All builders take/return streaming DataFrames and never start
queries themselves; ``run_to_memory`` drives one to completion against
the memory sink with an availableNow trigger, so a parquet batch drives
the stream deterministically.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.readers import footer_schema

#: Tumbling window of :func:`windowed_counts`.
WINDOW = "1 hour"
#: Event-time lateness every stateful operator here tolerates.
WATERMARK = "2 hours"
#: How long after a view a click is still attributed to it.
ATTRIBUTION_WITHIN = "30 minutes"


def read_events_stream(spark: SparkSession, path_dir: str) -> DataFrame:
    """File-source stream over events parquet (swap for Kafka in prod;
    the downstream plans are source-agnostic).

    ``readStream`` needs an explicit schema, and the corpus has shipped
    ``ts`` both as INT64 TIMESTAMP(NANOS) and as plain microsecond
    TIMESTAMP_NTZ — so the schema is read from the file's footer
    (:func:`...sources.readers.footer_schema`, no Spark job), which
    maps nanos to raw LONG, and the ts conversion branches on the type
    actually found, exactly like the batch loader. A remote or
    unreadable footer falls back to a batch schema scan of the same
    file; no session conf is set, so a remote nanos file raises
    [PARQUET_TYPE_ILLEGAL]. The stream's TIMESTAMP wall times equal the
    batch loader's NTZ values under a UTC session zone, which every st*
    query pins for its call."""
    path = f"{path_dir}/events.parquet"
    schema = footer_schema(path) or spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(path_dir)
    )
    # TIMESTAMP (not NTZ): EventTimeWatermark only accepts TIMESTAMP.
    if isinstance(schema["ts"].dataType, T.LongType):  # raw nanos
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling aggregation (``WINDOW`` windows,
    ``WATERMARK`` lateness) — the streaming twin of
    e1_tumbling_window. Late rows inside the watermark still update
    their window; rows later than the watermark are dropped WITH
    accounting (observable via
    ``query.lastProgress['stateOperators'][0]['numRowsDroppedByWatermark']``)
    — unlike the reference's silent CDC drop."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(events: DataFrame, keys: list[str]) -> DataFrame:
    """Exactly-once-per-key within the ``WATERMARK`` horizon: state is
    bounded (old keys age out with the watermark), unlike a global
    ``dropDuplicates`` whose state grows forever on an unbounded
    stream."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(keys)


@contextmanager
def session_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set one session conf for the block, then restore the caller's
    value, or unset the key if the caller had not set it."""
    before = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


#: Most state partitions a bounded replay uses (see ``run_to_memory``).
STATE_PARTITIONS = 8


def run_to_memory(
    stream_df: DataFrame, name: str, mode: str = "complete"
) -> DataFrame:
    """Drive a streaming DataFrame to completion against the memory
    sink (availableNow trigger): deterministic, synchronous, test-grade.
    ``mode``: 'complete' for aggregations (append would hold back
    windows the final watermark hasn't passed), 'append' for stateless
    / dedup streams. Returns the materialized batch result. The sink's
    temp view ``name`` is dropped before the call returns (the returned
    frame is already resolved against the sink and keeps its rows), so
    a replay leaves no view in the session and a fixed ``name`` can be
    reused by the next call.

    The replay runs at ``min(STATE_PARTITIONS, defaultParallelism)``
    shuffle partitions, which right-sizes STATE parallelism for the
    bounded replay: a streaming query instantiates one state-store
    instance per shuffle partition per stateful operator per batch, and
    at the session's batch default (32) that fixed machinery dominates
    replay wall time — measured at sf0.1: st8 9.1s → 2.9s and st3 6.4s
    → 2.2s at 8 partitions, values identical (state partitioning never
    affects deterministic results). With fewer task slots than that,
    the partitions beyond the slot count only queue more state-store
    work behind each other, so the replay uses no more partitions than
    the session has slots. The conf is set only for the replay, then
    restored (or unset, if the caller had not set it).

    SINGLE-THREADED ASSUMPTION (ADVICE r8): the override mutates the
    SESSION conf for the replay's duration, because a stateful stream
    pins its state partition count from the session conf at first
    batch and offers no per-query knob — so any batch query planned
    CONCURRENTLY on the same session would silently plan with the
    replay's shuffle-partition count. This helper is a test/bench
    harness for synchronous bounded replays; do not call it from a
    session shared with concurrent planners."""
    spark = stream_df.sparkSession
    parts = min(STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    try:
        with session_conf(spark, "spark.sql.shuffle.partitions", str(parts)):
            q = (
                stream_df.writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.sql(f"SELECT * FROM {name}")
    finally:
        spark.catalog.dropTempView(name)


def stream_stream_attribution_join(
    events: DataFrame, watermark: str = WATERMARK, how: str = "inner"
) -> DataFrame:
    """Watermarked stream-stream join: attribute each ``click`` to every
    ``view`` by the same user in the preceding ``ATTRIBUTION_WITHIN``
    interval — the ad-attribution shape. Both sides carry a watermark
    AND the join condition bounds event time on both sides, which is
    what lets Spark expire join state (without the time bound, both
    sides' state grows forever — the unbounded-state trap this operator
    exists to avoid). Append-mode output: a match is emitted once both
    inputs pass the watermark.

    ``how="left_outer"`` additionally emits every UNMATCHED view with
    null click columns — but only once the watermark proves no
    in-window click can still arrive (view_ts + ATTRIBUTION_WITHIN <
    watermark); the no-data final micro-batch (SPARK-24156, on by
    default) is what flushes those rows when a bounded replay ends."""
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WITHIN}")
        ),
        how,
    ).select("user_id", "view_id", "view_ts", "click_id", "click_ts")
