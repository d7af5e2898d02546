"""Streaming-tier queries (SURVEY.md §2.9), checked via their batch
equivalents.

Structured Streaming's windowed aggregations produce the SAME results as
the batch window functions over the replayed data (that is the point of
the unified model), so the correctness gate runs the batch formulation;
the true ``readStream`` micro-batch execution of the same plans — with
watermarks, file replay, and a foreachBatch JDBC-parity sink — lives in
streaming/jobs.py and is exercised by tests/test_streaming.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_covid19_brasil_spark.registry import T, query
from etl_covid19_brasil_spark.streaming.jobs import (
    file_replay_stream,
    interval_join_click_purchase,
    run_foreach_batch_upsert,
    run_to_memory,
    running_user_totals,
    session_counts,
    static_enrich_segment_sums,
    tumbling_counts,
)


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes',
                       make_timestamp(epoch_ns(ts) // 1000)) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    section="2.9",
    doc="Tumbling 5-minute windowed counts per event type — "
    "groupBy(window('ts','5 minutes')) in both batch and streaming "
    "(streaming/jobs.py:tumbling_counts runs it with readStream + "
    "watermark). The oracle buckets the MICROSECOND-truncated timestamp "
    "(epoch_ns // 1000 == Spark's ns->us parquet read) so an oracle "
    "engine that reads the nanos parquet at full TIMESTAMP_NS precision "
    "assigns every event to the same bucket Spark does.",
)
def stream_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    # the batch twin of the streaming job: a batch withWatermark is a no-op
    return tumbling_counts(T(spark, sf, "events"))


@query(
    "stream_sliding_window",
    oracle="""
    WITH src AS (
      SELECT make_timestamp(epoch_ns(ts) // 1000) AS ts_us, event_type FROM events
    ),
    assigned AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts_us) AS window_start, event_type FROM src
      UNION ALL
      SELECT time_bucket(INTERVAL '10 minutes', ts_us, INTERVAL '5 minutes') AS window_start,
             event_type
      FROM src
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM assigned GROUP BY 1, 2
    """,
    section="2.9",
    doc="Sliding window (10 min length, 5 min slide): every event lands in "
    "two overlapping windows; the oracle reproduces the assignment with "
    "two offset time_buckets over the microsecond-truncated timestamp "
    "(matches Spark's ns->us parquet read under any oracle precision).",
)
def stream_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


@query(
    "stream_session_window",
    oracle="""
    WITH src AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
    ),
    marked AS (
      SELECT user_id, us, event_id,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                       >= 1800000000
                  OR LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM src
    ),
    sessions AS (
      SELECT user_id, us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    )
    SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    section="2.9",
    doc="Session windows (30-minute gap) per user — session_window() in "
    "Spark; the oracle is the classic gaps-and-islands formulation. "
    "Spark's session end is EXCLUSIVE (a gap of exactly 30 minutes opens "
    "a new session), so the oracle's gap predicate is >=, and both "
    "windows tie-break on event_id so adversarial equal-ts data stays "
    "deterministic. The whole oracle runs on INTEGER microseconds "
    "(epoch_ns // 1000 == Spark's ns->us parquet truncation) and the "
    "session start is returned as integer micros on both sides, so "
    "neither the gap boundary nor the output can shift under a "
    "TIMESTAMP_NS-reading oracle engine.",
)
def stream_session_window(spark: SparkSession, sf: str) -> DataFrame:
    return session_counts(T(spark, sf, "events")).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
    )


@query(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    section="2.9",
    doc="Stateful key dedup — dropDuplicates on the key set; the streaming "
    "twin (dropDuplicatesWithinWatermark) runs in streaming/jobs.py.",
)
def stream_dedup_keys(spark: SparkSession, sf: str) -> DataFrame:
    return T(spark, sf, "events").select("user_id", "event_type").distinct()


@query(
    "stream_interval_join",
    oracle="""
    WITH src AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
    )
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           p.us - c.us AS lag_us
    FROM src c JOIN src p
      ON c.user_id = p.user_id
     AND p.us >= c.us AND p.us <= c.us + 1800000000
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    section="2.9",
    doc="Stream-stream interval join: clicks matched to the same user's "
    "purchases within 30 minutes after. The streaming execution "
    "(streaming/jobs.py:interval_join_click_purchase) watermarks BOTH "
    "sides and bounds event time on both ends of the condition, so join "
    "state expires instead of growing with the stream; this batch twin "
    "is the identical plan minus the (batch-no-op) watermarks.",
)
def stream_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "events")
    return interval_join_click_purchase(e, e)


@query(
    "stream_arbitrary_state",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
           MAX(epoch_ns(ts) // 1000) AS last_ts_us
    FROM events GROUP BY user_id
    """,
    section="2.9",
    doc="Arbitrary stateful processing, ACTUALLY EXECUTED as a stream: "
    "events.parquet is replayed through readStream, "
    "applyInPandasWithState (streaming/jobs.py:running_user_totals) folds "
    "per-user (count, exact-cents total, last event time) into explicit "
    "GroupState, and the update-mode memory sink collects the emitted "
    "snapshots; the query returns each user's FINAL snapshot (n_events is "
    "strictly monotone per emit, so row_number over n_events desc picks "
    "it). The oracle is the batch fold of the same stream — identical by "
    "the unified-model contract.",
)
def stream_arbitrary_state(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    stream = file_replay_stream(spark, sf)
    q = run_to_memory(running_user_totals(stream), "arb_state_snapshots", mode="update")
    q.stop()
    snaps = spark.table("arb_state_snapshots")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snaps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("total_value_cents").cast("double") / 100.0).alias("total_value"),
            F.unix_micros(F.col("last_ts")).alias("last_ts_us"),
        )
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes',
                       make_timestamp(epoch_ns(e.ts) // 1000)) AS window_start,
           COALESCE(c.c_mktsegment, '(none)') AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    section="2.9",
    doc="Stream-static enrichment: events joined to the BROADCAST customer "
    "dimension (left join, unmatched users bucketed as '(none)') then "
    "tumbling 5-minute exact-cents sums per market segment. The live "
    "readStream execution of the same plan (dimension re-planned per "
    "micro-batch, no state store for the join) runs in "
    "streaming/jobs.py:static_enrich_segment_sums, asserted equal to "
    "this batch twin in tests/test_streaming.py.",
)
def stream_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "events")
    c = T(spark, sf, "customer")
    # the batch twin of the streaming job: identical plan minus the watermark
    return static_enrich_segment_sums(e, c)


@query(
    "stream_windowed_topk",
    oracle="""
    WITH counts AS (
      SELECT time_bucket(INTERVAL '10 minutes',
                         make_timestamp(epoch_ns(ts) // 1000)) AS window_start,
             event_type,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT window_start, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type ASC) AS rk
      FROM counts
    )
    SELECT window_start, event_type, n_events, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 2
    """,
    section="2.9",
    doc="Per-window top-k: the 2 most frequent event types in every "
    "tumbling 10-minute window (deterministic count-desc/type-asc "
    "order). Ranking is not an incremental aggregate, so the streaming "
    "execution is the standard two-stage shape: the windowed COUNT "
    "runs incrementally under a watermark (streaming/jobs.py tumbling "
    "plan), and the per-window rank re-derives per trigger in a "
    "foreachBatch sink over the updated windows — only windows touched "
    "by the trigger re-rank, closed windows are final. The batch "
    "formulation here IS that final state, which is what the oracle "
    "checks.",
)
def stream_windowed_topk(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = T(spark, sf, "events")
    counts = (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 2)
    )


@query(
    "stream_foreach_batch_upsert",
    oracle="""
    SELECT user_id, event_id,
           make_timestamp(epoch_ns(ts) // 1000) AS ts,
           event_type, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    section="2.9",
    doc="foreachBatch MERGE/upsert sink, executed as a REAL readStream "
    "replay inside the correctness gate (streaming/jobs.py:"
    "run_foreach_batch_upsert): the events replay as 4 time-ordered "
    "micro-batches, each batch upserts per-user latest rows into a "
    "versioned parquet store (atomic pointer swap), and the final store "
    "must equal the batch latest-by-key over the whole corpus — "
    "last-write-wins is associative across any batch split, which is "
    "the invariant that makes streaming upsert correct under "
    "repartitioned replays. The one §2.9 row where the driver checks "
    "the actual micro-batch executor against SQL, not the batch twin.",
)
def stream_foreach_batch_upsert(spark: SparkSession, sf: str) -> DataFrame:
    return run_foreach_batch_upsert(spark, sf, n_files=4)


@query(
    "scan_python_datasource_stream",
    oracle="""
    SELECT CAST(i AS BIGINT) AS id,
           CAST((i * 2654435761) % 1000000 AS DOUBLE) / 100.0 AS score,
           'row_' || CAST(i % 97 AS VARCHAR) AS tag
    FROM range(500) t(i)
    """,
    section="2.9",
    doc="STREAMING custom Python data source (Spark 4 "
    "SimpleDataSourceStreamReader, io.py:register_synthetic_stream_"
    "source — the streaming twin of scan_python_datasource): a "
    "deterministic keyed row stream arrives in offset-tracked "
    "micro-batches (137 rows per trigger, engine-checkpointed offsets "
    "— the real restart/replay contract), drains into a memory sink, "
    "and the drained table must hash-match the oracle's closed-form "
    "replay of all 500 rows. Custom connectors for stream systems "
    "Spark has no reader for (internal queues, vendor APIs) land "
    "exactly here.",
)
def scan_python_datasource_stream(spark: SparkSession, sf: str) -> DataFrame:
    import uuid

    from etl_covid19_brasil_spark.io import register_synthetic_stream_source

    register_synthetic_stream_source(spark)
    name = f"synth_stream_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("synth_stream")
        .option("n", 500)
        .option("batch_rows", 137)
        .load()
    )
    # processAllAvailable drains every offset the source reports; an
    # availableNow trigger would stop after the first simple-reader batch
    run_to_memory(stream, name, mode="append").stop()
    # materialize before the memory table goes away with the query, as an
    # Arrow-built LocalRelation rather than pickled rows
    return spark.createDataFrame(spark.table(name).toArrow())


@query(
    "stream_session_dynamic_gap",
    oracle="""
    WITH e AS (
      SELECT user_id,
             epoch_ns(ts) // 1000 AS us,
             CASE WHEN event_type = 'view' THEN 600000000
                  ELSE 1800000000 END AS gap_us
      FROM events
    ),
    marked AS (
      SELECT user_id, us, gap_us,
             MAX(us + gap_us) OVER (PARTITION BY user_id ORDER BY us, gap_us
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS prev_end
      FROM e
    ),
    sessions AS (
      SELECT user_id, us, gap_us,
             SUM(CASE WHEN prev_end IS NULL OR us >= prev_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, gap_us) AS sid
      FROM marked
    )
    SELECT user_id,
           make_timestamp(MIN(us)) AS session_start,
           make_timestamp(MAX(us + gap_us)) AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    section="2.9",
    doc="Session windows with a DYNAMIC per-event gap (Spark 3.2+ "
    "session_window(ts, expr)): views time out after 10 minutes, "
    "heavier events hold the session 30 — the per-event-type gap a "
    "real engagement model needs and fixed-gap sessionization can't "
    "express. Each event proposes [ts, ts+gap); overlapping proposals "
    "merge; window end = max proposed end. The oracle replays exactly "
    "that as the win_interval_merge pattern (running-max previous end "
    "-> session break flags -> cumulative session id) in exact integer "
    "microseconds. Same plan batch or streaming (the unified-model "
    "contract the §2.9 tier pins throughout).",
)
def stream_session_dynamic_gap(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "events")
    gap = F.when(F.col("event_type") == "view", "10 minutes").otherwise("30 minutes")
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
