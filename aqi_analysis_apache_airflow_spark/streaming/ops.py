"""Structured Streaming surface over the events table (SURVEY.md §2.8,
§7 phase 6).

The reference has no streaming: its CET/LSET bookkeeping + CDC filter
(``dags/etl/source_to_stage.py:73``) is a hand-rolled batch watermark
that SILENTLY DROPS late rows. This module is the principled version:

- ``withWatermark`` bounds state and defines lateness explicitly;
- tumbling/sliding windows replace the one-shot [lset, cet] bucket;
- ``session_window`` and ``dropDuplicatesWithinWatermark`` are the
  stateful operators the batch twins in plans/extended.py mirror
  (e1_tumbling_window / e2_sessionization — same logical results on
  the same data, verified in tests).

All builders take/return streaming DataFrames and never start queries
themselves; sinks are the caller's business (tests use the memory sink
with an availableNow trigger so a parquet batch drives the stream to
completion deterministically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def read_events_stream(spark: SparkSession, path_dir: str) -> DataFrame:
    """File-source stream over events parquet (swap for Kafka in prod;
    the downstream plans are source-agnostic).

    ``readStream`` needs an explicit schema, and the corpus has shipped
    ``ts`` both as TIMESTAMP(NANOS) (surfaced as raw-nanos LONG under
    the legacy conf) and as plain microsecond TIMESTAMP_NTZ — so the
    schema is taken from a batch scan of the same files (metadata-only,
    no data read) and the ts conversion branches on the type actually
    found, exactly like the batch loader in sources/readers.py."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(path_dir)
        .schema
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(path_dir)
    )
    # TIMESTAMP (not NTZ): EventTimeWatermark only accepts TIMESTAMP.
    # Session timezone is pinned UTC, so values line up with the batch
    # loader's NTZ microseconds.
    if isinstance(schema["ts"].dataType, T.LongType):  # raw nanos
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling (or sliding, if ``slide``) aggregation —
    the streaming twin of e1_tumbling_window. Late rows inside the
    watermark still update their window; rows later than the watermark
    are dropped WITH accounting (observable via
    ``query.lastProgress['stateOperators'][0]['numRowsDroppedByWatermark']``)
    — unlike the reference's silent CDC drop."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
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


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Stateful per-user sessionization — the streaming twin of
    e2_sessionization (same gap semantics: a gap of exactly ``gap``
    starts a new session)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon: state is
    bounded (old keys age out with the watermark), unlike a global
    ``dropDuplicates`` whose state grows forever on an unbounded
    stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    mode: str = "complete",
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Drive a streaming DataFrame to completion against the memory
    sink (availableNow trigger): deterministic, synchronous, test-grade.
    ``mode``: 'complete' for aggregations (append would hold back
    windows the final watermark hasn't passed), 'append' for stateless
    / dedup streams. Returns the materialized batch result.

    ``shuffle_partitions`` right-sizes STATE parallelism for the
    bounded replay: a streaming query instantiates one state-store
    instance per shuffle partition per stateful operator per batch,
    and at the session's batch default (32) that fixed machinery
    dominates replay wall time — measured at sf0.1: st8 9.1s → 2.9s
    and st3 6.4s → 2.2s at 8 partitions, values identical (state
    partitioning never affects deterministic results). The conf is
    set only around stream start and restored after; pass ``None``
    to inherit the session value (production streams size state
    partitions to actual volume).

    SINGLE-THREADED ASSUMPTION (ADVICE r8): the override mutates the
    SESSION conf for the replay's duration, because a stateful stream
    pins its state partition count from the session conf at first
    batch and offers no per-query knob — so any batch query planned
    CONCURRENTLY on the same session would silently plan with the
    replay's shuffle-partition count. This helper is a test/bench
    harness for synchronous bounded replays; do not call it from a
    session shared with concurrent planners (pass ``None`` there)."""
    spark = stream_df.sparkSession
    old = None
    if shuffle_partitions is not None:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.sql(f"SELECT * FROM {name}")


def start_idempotent_parquet_sink(
    stream_df: DataFrame, path: str, checkpoint: str
):
    """Exactly-once-on-retry file sink via ``foreachBatch``: every
    micro-batch lands in its OWN epoch partition with dynamic partition
    overwrite, so a replayed epoch (failure between write and
    checkpoint commit) REPLACES its previous partial output instead of
    appending a duplicate. This is the vanilla-parquet version of what
    a transactional table format gives natively; the checkpoint
    provides the replay, the partition overwrite provides the
    idempotence.

    Returns the started StreamingQuery (availableNow trigger — caller
    awaits termination). The batch writer is exposed as
    ``_write_epoch`` on the returned query object for fault-injection
    tests (re-invoking it with the same epoch_id must be a no-op in
    row-count terms).
    """

    def _write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("__epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(path)
        )

    q = (
        stream_df.writeStream.foreachBatch(_write_epoch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q._write_epoch = _write_epoch
    return q


def running_user_stats(
    events: DataFrame, watermark: str = "2 hours", timeout_ms: int | None = None
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum, max) maintained in explicit group state across
    micro-batches — the pattern for metrics Spark's built-in stateful
    aggregations can't express (conditional resets, custom eviction,
    model state...). Each invocation receives the user's accumulated
    state + the new batch as pandas, emits one updated row.

    ``timeout_ms`` is the state-eviction knob that keeps 100 TB of
    keys from living in state forever: a user idle past it is evicted
    (``state.hasTimedOut``) and re-created on next activity. It is
    opt-in because a registered processing-time timer keeps an
    ``availableNow`` (run-to-completion) query alive firing
    cleanup-only batches — set it on continuous deployments, leave it
    None for bounded replays.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("mx", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, total, mx))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        import pandas as pd

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "max_value": [mx],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def stream_stream_attribution_join(
    events: DataFrame,
    left_type: str = "view",
    right_type: str = "click",
    within: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: attribute each ``click`` to
    every ``view`` by the same user in the preceding ``within``
    interval — the ad-attribution shape. Both sides carry a watermark
    AND the join condition bounds event time on both sides, which is
    what lets Spark expire join state (without the time bound, both
    sides' state grows forever — the unbounded-state trap this
    operator exists to avoid). Append-mode output: a match is emitted
    once both inputs pass the watermark.

    ``how="left_outer"`` additionally emits every UNMATCHED view with
    null click columns — but only once the watermark proves no
    in-window click can still arrive (view_ts + within < watermark);
    the no-data final micro-batch (SPARK-24156, on by default) is what
    flushes those rows when a bounded replay ends."""
    v = events.filter(F.col("event_type") == left_type).select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = events.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
        how,
    ).select("user_id", "view_id", "view_ts", "click_id", "click_ts")


def running_user_stats_tws(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """The same per-user running (count, sum, max) on Spark 4's
    ``transformWithStateInPandas`` — the StatefulProcessor API that
    succeeds ``applyInPandasWithState`` (:func:`running_user_stats`):
    state is a TYPED handle-managed ValueState instead of a positional
    tuple, timers are first-class (``handle.registerTimer``), and one
    processor can hold several named state variables (value/list/map),
    which is what multi-metric or model-carrying operators need. Kept
    side by side with the old API so both stateful surfaces stay
    covered.

    Runtime gate: the transformWithState state-server protocol needs
    ``google.protobuf`` on the Python side; environments without it
    (this container) fail at stream start — the test skips there, the
    ``applyInPandasWithState`` twin above is the portable fallback."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", "n BIGINT, total DOUBLE, mx DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._stats.exists():
                n, total, mx = self._stats.get()
            else:
                n, total, mx = 0, 0.0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                if len(pdf):
                    mx = max(mx, float(pdf["value"].max()))
            self._stats.update((n, total, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningStats(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
