"""Structured Streaming jobs over the events stream (SURVEY.md §2.9).

The reference is batch-only (schedule_interval=None,
dags/create-data-lake.py:18); this tier is the north-star extension. Each
job takes a (possibly streaming) events DataFrame so the identical plan
runs in batch tests and under ``readStream`` file replay:

    stream = file_replay_stream(spark, sf_dir)       # readStream source
    q = run_to_memory(tumbling_counts(stream), "t")  # micro-batch exec
    ...
    spark.table("t")                                  # results

Watermarks bound state: at 100 TB/day of events the 10-minute watermark
means each executor holds only the open windows, and late rows beyond it
are dropped instead of growing state forever.

The micro-batch replay rig is written once and shared by every job that
replays a fixture: :func:`_stage_slices` cuts a frame into ``n`` ordered
single-file slices, :func:`_staged_stream` reads a staged directory back
as a file-source stream, :func:`_drain` runs a foreachBatch sink to the
end of the backlog under ``trigger(availableNow=True)``, and
:func:`_fold` folds a user's pandas batches into the (count, exact cents,
last event time) state every stateful processor here keeps.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from etl_covid19_brasil_spark.io import events_ts, load_table, scan_parquet

# Closed-session rows and per-user session state of the two inactivity jobs
_SESSION_OUT = "user_id long, last_seen_ms long, n_events long, value_cents long"
_SESSION_STATE = "last_ms long, n long, cents long"


def file_replay_stream(
    spark: SparkSession, sf_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """Replay events.parquet as a file-source stream.

    Copies the parquet file(s) into a temp dir (a streaming file source
    watches a directory) and reads with the batch-derived schema —
    streaming sources require an explicit schema by design (no inference
    scan on an unbounded source).
    """
    stage = Path(tempfile.mkdtemp(prefix="events_stream_"))
    src = Path(f"{sf_dir}/events.parquet")
    for i, f in enumerate(sorted(src.glob("*.parquet")) if src.is_dir() else [src]):
        shutil.copy(f, stage / f"part_{i}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # withWatermark() requires TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)
    return events_ts(_staged_stream(spark, stage, files_per_trigger))


def _staged_stream(
    spark: SparkSession, stage: Path, files_per_trigger: int = 1
) -> DataFrame:
    """Read a staged parquet directory back as a file-source stream of
    ``files_per_trigger`` files per micro-batch, with the schema of the
    staged files — streaming sources require an explicit schema by design
    (no inference scan on an unbounded source). The schema is read from
    one staged footer on the driver (:func:`io.scan_parquet`), so
    building the stream submits no job."""
    return (
        spark.readStream.schema(scan_parquet(spark, str(stage)).schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(str(stage))
    )


def _stage_slices(df: DataFrame, order: list, n_files: int, stage: Path) -> Path:
    """Stage ``df`` into ``stage`` as ``n_files`` single-file slices
    ``slice_000.parquet``, ... cut by a global ntile over ``order``, so a
    :func:`_staged_stream` replay runs one micro-batch per slice in that
    order (the file source replays files in the order they were written).

    Each slice is written with Spark and its single part file renamed to
    a controlled, ordered name — no driver transit. The global ntile
    window is fixture-rig-only: production streams arrive from
    Kafka/files and are never re-staged at all.
    """
    sliced = df.withColumn("__slice", F.ntile(n_files).over(Window.orderBy(*order)))
    stage.mkdir(parents=True, exist_ok=True)
    for i in range(n_files):
        tmp = stage / f"_tmp_{i}"
        (
            sliced.filter(F.col("__slice") == i + 1)
            .drop("__slice")
            .coalesce(1)
            .write.parquet(str(tmp))
        )
        part = next(tmp.glob("part-*.parquet"))
        part.rename(stage / f"slice_{i:03d}.parquet")
        shutil.rmtree(tmp)
    return stage


def _await_or_stop(q: StreamingQuery, timeout_seconds: float) -> bool:
    """Wait for a self-terminating query; stop it if it outlives the
    timeout. Returns True when it ended by itself."""
    finished = q.awaitTermination(timeout_seconds)
    if not finished:
        q.stop()
    return finished


def _drain(
    stream: DataFrame,
    sink,
    timeout_seconds: float,
    what: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Run the foreachBatch ``sink`` over every micro-batch pending in
    ``stream`` under ``trigger(availableNow=True)`` — the bounded replay
    every foreachBatch job here drives — and raise ``TimeoutError`` when
    the query does not end by itself within ``timeout_seconds``."""
    writer = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if not _await_or_stop(writer.start(), timeout_seconds):
        raise TimeoutError(f"{what} replay did not finish")


def _fold(pdfs, n: int = 0, cents: int = 0, last_us: int = 0) -> tuple:
    """Fold one user's pandas batches into ``(n_events, value_cents,
    last_us)``: event count, exact integer-cents value total and the
    latest event time in epoch microseconds, starting from the given
    state."""
    import pandas as pd

    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["value"].mul(100).round().sum())
        batch_max = pdf["ts"].max()
        if pd.notna(batch_max):
            last_us = max(last_us, int(batch_max.value // 1000))
    return n, cents, last_us


def _session_row(key, last_ms: int, n: int, cents: int):
    """The one-row closed-session summary both inactivity jobs emit."""
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_seen_ms": [last_ms],
            "n_events": [n],
            "value_cents": [cents],
        }
    )


def rate_stream(
    spark: SparkSession, rows_per_batch: int = 100, num_partitions: int = 4
) -> DataFrame:
    """Built-in deterministic rate source (SURVEY.md §2.9 stream_source,
    non-file tier): ``rate-micro-batch`` emits exactly ``rows_per_batch``
    rows per trigger with a monotonically advancing event time — the
    broker-less generator for load tests and watermark/windowing drills.
    Output is shaped like the events table (ts TIMESTAMP, user_id,
    event_type, value) so every downstream job in this module accepts it
    unchanged.
    """
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", num_partitions)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60_000)
        .load()
    )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 50).alias("user_id"),
        F.when(F.col("value") % 3 == 0, "click")
        .when(F.col("value") % 3 == 1, "view")
        .otherwise("purchase")
        .alias("event_type"),
        (F.col("value") % 1000).cast("double").alias("value"),
    )


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source constructor (SURVEY.md §2.9 stream_source, broker
    tier): declares the standard ``format("kafka")`` reader and projects
    the binary envelope to (key, value, topic, partition, offset, ts).
    Needs the spark-sql-kafka connector package on the classpath and a
    reachable broker at ``start()`` — neither exists in this sandbox, so
    this path is exercised for construction only (tests assert the
    projected schema); the downstream jobs are source-agnostic and accept
    it unchanged.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("ts"),
    )


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 5-minute counts per event type with a late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def sliding_value_sum(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Sliding 10/5-minute exact-cents value sums."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg((F.sum(cents).cast("double") / 100.0).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Session windows per user (gap-based)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Stateful event-id dedup with bounded state (streaming twin of the
    batch distinct; state for ids older than the watermark is dropped)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_to_memory(
    df: DataFrame, name: str, mode: str = "complete", await_seconds: float = 60.0
) -> StreamingQuery:
    """Execute a streaming plan into an in-memory table and wait for all
    replayed files to drain (processAllAvailable)."""
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    return q


def run_foreach_batch_parquet(df: DataFrame, out_dir: str) -> StreamingQuery:
    """foreachBatch sink: each micro-batch lands via the ordinary batch
    writer — the streaming twin of the reference's bulk-load sink
    (dags/create-data-lake.py:54-61); swap .parquet for .jdbc for exact
    parity.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = df.writeStream.outputMode("append").foreachBatch(sink).start()
    q.processAllAvailable()
    return q


def running_user_totals(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Arbitrary stateful processing (SURVEY.md §2.9 arbitrary_state):
    per-user running totals maintained in explicit GroupState via
    ``applyInPandasWithState`` — the shape for operators windowed
    aggregation can't express (custom counters, ML feature state,
    cross-event session logic).

    State per user: (n_events, total_value_cents, last_ts). Each
    micro-batch folds its rows into the state and emits the updated
    snapshot. State is keyed and partitioned by user_id — at 100 TB the
    state store shards across executors and each task touches only its
    keys; the watermark bounds state growth via eviction on timeout.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        n, cents, last_us = _fold(pdfs, *(state.get if state.exists else ()))
        state.update((n, cents, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_cents": [cents],
                "last_ts": [pd.Timestamp(last_us * 1000)],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType="user_id long, n_events long, "
            "total_value_cents long, last_ts timestamp",
            stateStructType="n_events long, total_value_cents long, last_ts_us long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def make_totals_processor():
    """Build the per-user totals :class:`StatefulProcessor` used by
    :func:`user_value_state_totals`.

    Module-level (not a closure inside the job builder) so tests can
    drive the processor's ``init`` / ``handleInputRows`` lifecycle
    directly against a fake :class:`StatefulProcessorHandle` — the
    processor logic itself is pure Python over pandas batches and does
    not depend on the transformWithState state server, so its semantics
    are testable in environments where the server's protobuf wire
    format is unavailable (tests/test_streaming.py).
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "totals", "n_events long, total_value_cents long"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents, _ = _fold(rows, *(self._st.get() if self._st.exists() else ()))
            self._st.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    return Totals()


def user_value_state_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful processing on the Spark 4 ``transformWithState``
    API — the successor to ``applyInPandasWithState`` with EXPLICIT state
    variables (value/list/map state, timers, TTL) instead of one opaque
    state tuple. Same workload as :func:`running_user_totals` (per-user
    event count + exact-cents value total) so the two APIs are directly
    comparable in tests.

    Scale shape is identical: state is keyed by user_id and sharded
    across executors by the state-store; per-key state here is one fixed
    (count, cents) tuple, so state size is O(distinct users) regardless
    of event volume. Requires the RocksDB state-store provider (state
    lives off-heap, checkpointed incrementally — the 100 TB posture for
    state larger than executor memory) and the protobuf package (the
    transformWithState state server's wire format). There is no runtime
    fallback where protobuf is missing: tests drive the processor
    (:func:`make_totals_processor`) through a fake state handle there,
    and :func:`running_user_totals` is the same workload on the
    GroupState API.
    """
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_totals_processor(),
        outputStructType="user_id long, n_events long, total_value_cents long",
        outputMode="Update",
        timeMode="None",
    )


def interval_join_click_purchase(
    clicks_src: DataFrame,
    purchases_src: DataFrame,
    watermark: str = "2 hours",
    horizon: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: each click matched to the same user's
    purchases landing within ``horizon`` after it.

    Both sides carry watermarks and the join condition bounds event time
    on BOTH ends, so Spark can expire buffered rows: per executor the
    state holds only ``watermark + horizon`` worth of each stream —
    bounded at any input rate, which is what makes a stream-stream join
    runnable against 100 TB/day. On batch inputs the same plan is an
    ordinary range join (withWatermark is a no-op in batch), which is how
    the differential test checks it.
    """
    c = clicks_src.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases_src.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = c.withWatermark("click_ts", watermark)
    p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return c.join(p, cond).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "lag_us"
        ),
    )


def static_enrich_segment_sums(
    events: DataFrame, customer: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Stream-static enrichment: join the event stream to a broadcast
    dimension (customer market segment), then tumbling 5-minute exact-cents
    value sums per segment.

    The static side is re-planned per micro-batch and BROADCAST — no
    stream-side shuffle for the join and no state store involvement (unlike
    stream-stream joins); the only stateful operator is the windowed agg.
    This is the standard 100 TB enrichment shape: the dimension rides the
    executors, the unbounded side streams through.
    """
    dim = F.broadcast(customer.select("c_custkey", "c_mktsegment"))
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.withWatermark("ts", watermark)
        .join(dim, F.col("user_id") == F.col("c_custkey"), "left")
        .select(
            "ts",
            F.coalesce(F.col("c_mktsegment"), F.lit("(none)")).alias("segment"),
            cents.alias("value_cents"),
        )
        .groupBy(F.window("ts", "5 minutes").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("value_cents").cast("double") / F.lit(100.0)).alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "segment", "n_events", "value_sum")
    )


def file_replay_stream_split(
    spark: SparkSession, sf_dir: str, n_files: int = 4, stage_dir: str | None = None
) -> DataFrame:
    """Like :func:`file_replay_stream`, but stages the events as
    ``n_files`` TIME-ORDERED slices so the replay produces that many
    micro-batches with an advancing watermark — required to exercise
    event-time TIMERS, which only fire when a later batch's watermark
    passes their expiry (a single-batch replay never fires any).

    ``stage_dir`` pins the staging location; if it already holds the
    staged slices they are reused verbatim. Required for checkpointed
    RESTART tests: the file-source checkpoint records processed files by
    absolute path, so a resume must see the same staging dir (a fresh
    tempdir would make every slice look unseen and replay from scratch).
    """
    stage = Path(stage_dir or tempfile.mkdtemp(prefix="events_stream_split_"))
    if not any(stage.glob("slice_*.parquet")):
        _stage_slices(load_table(spark, sf_dir, "events"), ["ts", "event_id"], n_files, stage)
    # slices hold load_table output, so ts is already TIMESTAMP
    return _staged_stream(spark, stage)


def user_inactivity_timeouts(events: DataFrame, gap_minutes: int = 60) -> DataFrame:
    """Event-time TIMERS on transformWithState: per-user inactivity
    detection. Every input batch re-arms the user's single timer at
    ``last_seen + gap``; when the watermark passes that expiry with no
    newer event, ``handleExpiredTimer`` fires ONCE, emits the closed
    session (count + exact-cents total) and clears the state.

    This is the operator shape Structured Streaming cannot express with
    windows or dropDuplicates — output is triggered by the ABSENCE of
    data, which only a timer can observe. State per user is one fixed
    tuple plus one timer; both are state-store-sharded by key, so the
    100 TB posture is O(active users), not O(events).
    """
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=make_inactivity_processor(gap_minutes),
            outputStructType=_SESSION_OUT,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def make_inactivity_processor(gap_minutes: int = 60):
    """Build the inactivity-timer :class:`StatefulProcessor` used by
    :func:`user_inactivity_timeouts`. Module-level for the same reason as
    :func:`make_totals_processor`: the timer/state logic is pure Python
    and is driven directly by a fake handle in tests where the
    transformWithState state server (protobuf wire format) is absent.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = gap_minutes * 60_000

    class Inactivity(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._st = handle.getValueState("sess", _SESSION_STATE)

        def handleInputRows(self, key, rows, timerValues):
            last, n, cents = self._st.get() if self._st.exists() else (0, 0, 0)
            n, cents, last_us = _fold(rows, n, cents, last * 1000)
            last = last_us // 1000
            for t in self._handle.listTimers():
                self._handle.deleteTimer(t)
            self._handle.registerTimer(last + gap_ms)
            self._st.update((last, n, cents))
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._st.exists():
                last, n, cents = self._st.get()
                self._st.clear()
                yield _session_row(key, last, n, cents)

        def close(self) -> None:
            pass

    return Inactivity()


def user_inactivity_timeouts_pandas_state(
    events: DataFrame, gap_minutes: int = 60
) -> DataFrame:
    """Event-time TIMEOUT on ``applyInPandasWithState`` — the same
    absence-of-data trigger as :func:`user_inactivity_timeouts`, on the
    GroupState API (``setTimeoutTimestamp`` + ``hasTimedOut``): each batch
    re-arms the user's timeout at ``last_seen + gap``; when the watermark
    passes it with no newer event the group is invoked once WITH NO ROWS,
    emits the closed session, and removes its state. Emission happens
    only on timeout (Append mode), so downstream consumers see exactly
    one summary row per closed session.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_minutes * 60_000

    def fold(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            last, n, cents = state.get
            state.remove()
            yield _session_row(key, last, n, cents)
            return
        last, n, cents = state.get if state.exists else (0, 0, 0)
        n, cents, last_us = _fold(pdfs, n, cents, last * 1000)
        last = last_us // 1000
        state.update((last, n, cents))
        state.setTimeoutTimestamp(last + gap_ms)

    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_backfill_available_now(
    df: DataFrame, name: str, mode: str = "complete", timeout_seconds: float = 120.0
) -> bool:
    """Trigger.AvailableNow catch-up run — the BACKFILL mode of a
    streaming job: process everything pending at start as a bounded
    sequence of micro-batches (still honoring source rate limits like
    maxFilesPerTrigger, unlike the deprecated one-shot Trigger.Once),
    then terminate on its own. This is how a stopped pipeline replays a
    gap or a new deployment bootstraps state before switching to a
    continuous trigger — same plan, same checkpoint, different trigger.
    Returns True when the query ended by itself within the timeout (the
    bounded-backfill contract); on False the caller gets a stopped query
    and a failed assertion.
    """
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_stop(q, timeout_seconds)


def run_foreach_batch_upsert(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    timeout_seconds: float = 180.0,
    checkpoint_dir: str | None = None,
    store_root: str | None = None,
    stage_dir: str | None = None,
    crash_after_batch: int | None = None,
) -> DataFrame:
    """foreachBatch UPSERT sink: replay the events as ``n_files``
    time-ordered micro-batches and maintain a keyed parquet store of
    each user's LATEST event — the serving-table pattern (CDC compaction,
    feature freshness, "current state" materialization) that
    ``foreachBatch`` exists for: the sink body is ordinary batch code, so
    MERGE semantics Structured Streaming has no native sink for become a
    per-batch batch job with exactly-once-per-batch-id idempotence.

    Per batch: reduce the batch to per-user winners (max ts, event_id
    tie-break), union with the current store, re-pick winners, and write
    a NEW versioned store directory before retiring the old one (an
    atomic pointer swap — readers never observe a half-written store; a
    table format would give this transactionally, plain parquet gets it
    by rename). Last-write-wins is associative across any batch split,
    so the final store equals the batch latest-by-key over the whole
    corpus — which is exactly what the DuckDB oracle checks.

    At scale the union+re-pick is the compaction a deployment runs
    bucketed on the key (io.py:merge_by_key); the per-batch winner cut
    keeps the store write proportional to |store| + |batch winners|,
    never the raw batch size.

    Crash recovery (the contract a serving table actually needs): the
    store pointer is a FILE (``<store_root>/CURRENT``, swapped with
    os.replace) rather than process memory, so a killed writer leaves a
    consistent store on disk; with ``checkpoint_dir`` set the replay
    resumes from the engine checkpoint, and the sink is idempotent
    per batch id — if the crash landed AFTER the pointer swap but
    BEFORE the engine logged the batch (the at-least-once window), the
    replayed batch sees ``CURRENT`` already at its own version and
    skips. ``crash_after_batch`` injects exactly that worst-case crash
    point for the fault-injection test (tests/test_streaming.py);
    ``stage_dir`` must be pinned across the crash/restart pair because
    the file-source checkpoint records processed slices by path.
    """
    stage = stage_dir or tempfile.mkdtemp(prefix="events_stream_split_")
    stream = file_replay_stream_split(spark, sf_dir, n_files, stage_dir=stage)
    root = Path(store_root or tempfile.mkdtemp(prefix="upsert_store_"))
    root.mkdir(parents=True, exist_ok=True)
    pointer = root / "CURRENT"

    def read_pointer() -> Path | None:
        try:
            return root / pointer.read_text().strip()
        except OSError:
            return None

    def swap_pointer(new: Path) -> None:
        tmp = root / "CURRENT.tmp"
        tmp.write_text(new.name)
        os.replace(tmp, pointer)  # atomic on POSIX: readers see old or new

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def winners(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        new = root / f"v{batch_id}"
        cur = read_pointer()
        if cur is not None and cur.name == new.name:
            # Replay of a batch whose effects already committed (crash in
            # the window between pointer swap and engine offset log):
            # exactly-once-per-batch-id means SKIP, not re-merge — the
            # store already reflects this batch.
            pass
        else:
            batch_win = winners(
                batch_df.select("user_id", "event_id", "ts", "event_type", "value")
            )
            if cur is not None:
                merged = winners(
                    scan_parquet(spark, str(cur)).unionByName(batch_win)
                )
            else:
                merged = batch_win
            merged.write.mode("overwrite").parquet(str(new))
            swap_pointer(new)
            if cur is not None and cur != new:
                shutil.rmtree(cur, ignore_errors=True)
        if crash_after_batch is not None and batch_id == crash_after_batch:
            raise RuntimeError(
                f"injected crash after batch {batch_id} store commit"
            )

    try:
        _drain(stream, sink, timeout_seconds, "foreachBatch upsert", checkpoint_dir)
    finally:
        if stage_dir is None:  # the result reads the store, not the slices
            shutil.rmtree(stage, ignore_errors=True)
    final = read_pointer()
    if final is None:
        raise RuntimeError("upsert replay committed no batches")
    return scan_parquet(spark, str(final)).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


def run_stream_ann_enrich(
    spark: SparkSession,
    queries: DataFrame,
    index: DataFrame,
    k: int = 5,
    n_files: int = 3,
    timeout_seconds: float = 180.0,
    route=None,
    order_col: str = "vec_id",
    n_index: int | None = None,
) -> "tuple[DataFrame, int]":
    """Online semantic enrich: stream a query-embedding feed as
    micro-batches against a FROZEN index handle — the first composition
    of the streaming tier with the two-frame retrieval surface (VERDICT
    r15 item 2), and the serving loop an online semantic-dedup /
    contamination-gate / retrieval-enrich pipeline runs: embeddings
    arrive continuously, the index and its trained route are built once
    (``prepare_ann_route``), and every micro-batch is just
    ``ann_search(batch, index, route=handle)`` inside ``foreachBatch``
    — ordinary batch code per trigger, so the whole ann_search tier
    menu (and its plan pins) applies unchanged per batch.

    Correctness is oracle-grade, not merely plausible: per-query top-k
    is independent across queries, so the union of per-batch results is
    EXACTLY the batch ``ann_search`` over all queries at the exact
    tiers — any micro-batch split commutes with the operator. That is
    the invariant that makes streaming retrieval correct under replay,
    and it is what the registered query's DuckDB oracle checks.

    Handle amortization is the point of the composition: the route (and
    on ivf tiers the trained centroids) is constructed BEFORE the
    stream starts and reused by every trigger — no per-batch Lloyd, no
    per-batch routing jobs (asserted by monkeypatch-tripwire in
    tests/test_ann_lifecycle.py). ``route=None`` builds it here via
    :func:`~etl_covid19_brasil_spark.llm.ann.prepare_ann_route`.

    Returns ``(results, n_batches)`` — results read back from the
    append-mode parquet sink, plus the number of micro-batches the
    replay actually executed (the reuse claim needs >= 2)."""
    from etl_covid19_brasil_spark.llm.ann import prepare_ann_route
    from etl_covid19_brasil_spark.llm.search import ann_search

    if route is None:
        route = prepare_ann_route(index)
    if n_index is None:
        # one exact count at stream construction — pinned so every
        # trigger makes the same tier decision (a per-batch estimate
        # could flap tiers mid-stream); caller hint skips the job
        n_index = index.count()

    # stage the query feed as n_files ordered slices
    stage = Path(tempfile.mkdtemp(prefix="ann_enrich_stream_"))
    out_dir = Path(tempfile.mkdtemp(prefix="ann_enrich_out_")) / "res"
    seen = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        seen["n"] += 1
        # ordinary batch retrieval per trigger, same frozen handle each
        # time; the append sink is idempotent enough for availableNow
        # replay of a fixture (production would key files by batch_id)
        ann_search(batch_df, index, k=k, route=route, n_index=n_index).write.mode(
            "append"
        ).parquet(str(out_dir))

    try:
        _stage_slices(queries, [order_col], n_files, stage)
        _drain(_staged_stream(spark, stage), sink, timeout_seconds, "ann enrich")
    finally:
        # the results are read back from out_dir, never from the slices
        shutil.rmtree(stage, ignore_errors=True)
    return scan_parquet(spark, str(out_dir)), seen["n"]


def run_stream_index_ingest(
    spark: SparkSession,
    base: DataFrame,
    delta: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_files: int = 3,
    timeout_seconds: float = 180.0,
    order_col: str = "vec_id",
) -> "tuple[DataFrame, list]":
    """Online index MAINTENANCE: stream a vector feed INTO a frozen
    index handle — the composition of the r16 lifecycle
    (:func:`~etl_covid19_brasil_spark.llm.ann.ann_index_append`) with
    the streaming tier, i.e. the full production serving loop:
    continuous ingestion appends micro-batches to the index through the
    handle's staleness contract (trained-cell assignment, zero re-Lloyd
    while the geometry holds; a measured trigger retrains when it
    drifts), and queries are served from whatever the index has become.

    Per micro-batch the foreachBatch sink (driver-side, ordinary batch
    code) runs ``ann_index_append(handle, index_so_far, batch)`` —
    updating the handle's bookkeeping, re-measuring staleness on the
    BATCH only, and retraining over the union exactly when a trigger
    fires. After the replay drains, the final handle serves the query
    batch over the full union.

    Correctness is oracle-grade at the exact tiers: the served result
    over base UNION all-batches equals the whole-corpus ``ann_search``
    regardless of how ingestion was micro-batched (appends commute with
    unions; per-query top-k is batch-split-invariant) — what the
    registered query's DuckDB oracle checks.

    Returns ``(results, reports)`` — the served top-k and the per-batch
    :class:`AppendReport` list (the staleness audit trail a production
    ingest loop would alert on). The staged slices are NOT removed: the
    returned index, and so the served result, lazily re-reads them."""
    from etl_covid19_brasil_spark.llm.ann import ann_index_append, prepare_ann_route
    from etl_covid19_brasil_spark.llm.search import ann_search

    state = {"route": prepare_ann_route(base), "index": base, "reports": []}

    stage = _stage_slices(
        delta, [order_col], n_files, Path(tempfile.mkdtemp(prefix="index_ingest_stream_"))
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # re-read the staged slice as a BATCH frame: the appended index
        # must stay a replayable lazy plan across triggers (a streaming
        # source frame cannot be unioned into later batch queries)
        src = sorted(Path(stage).glob("slice_*.parquet"))[batch_id]
        batch = scan_parquet(spark, str(src))
        route, union, report = ann_index_append(
            state["route"], state["index"], batch
        )
        state["route"], state["index"] = route, union
        state["reports"].append(report)

    _drain(_staged_stream(spark, stage), sink, timeout_seconds, "index ingest")
    served = ann_search(queries, state["index"], k=k, route=state["route"])
    return served, state["reports"]
