"""T-family batch twins: the streaming operators' batch-checkable forms
(SURVEY §2.8). The live Structured Streaming versions of these live in
``fineventstream_spark/streaming/`` and are exercised by pytest; these
batch formulations exist so the DuckDB oracle can hash-check the same
semantics.

Scale: tumbling/sliding window aggs are plain groupBys on a derived
window-start key — partial aggregation applies, so a 100 TB stream history
aggregates with one small shuffle. The sliding window materializes
windows-per-event (×2 here) *before* the agg — acceptable because the
expansion factor is size/slide, a constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fineventstream_spark.catalog import Tables
from fineventstream_spark.registry import register


@register(
    "q_dedup_highwater",
    oracle="""
    WITH refetched AS (
        SELECT * FROM events
        UNION ALL
        SELECT * FROM events WHERE event_id % 3 = 0  -- overlapping re-fetch window
    )
    SELECT DISTINCT event_id, ts, user_id, event_type, value FROM refetched
    """,
    tags=("T2",),
)
def q_dedup_highwater(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the reference's stateful per-key dedup
    (producer_company_news.py:128-141): the 2-day lookback re-fetches
    overlapping windows; duplicates are suppressed on (key, id). Streaming
    twin: streaming/state.py::highwater_dedup."""
    t = Tables(spark, sf_dir)
    ev = t.events.select("event_id", "ts", "user_id", "event_type", "value")
    refetched = ev.unionByName(ev.filter(F.col("event_id") % 3 == 0))
    return refetched.dropDuplicates(["event_id"])


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           ROUND(SUM(value), 4) AS sum_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("T4",),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregation (OHLC-bar shape). Identical code
    runs under readStream + withWatermark — see streaming/pipelines.py."""
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value", "min_value", "max_value")
    )


@register(
    "q_stream_sliding",
    oracle="""
    SELECT make_timestamp((CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) - off.o) * 1000000) AS window_start,
           count(*) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    CROSS JOIN (VALUES (0), (1800)) AS off(o)
    GROUP BY 1
    """,
    tags=("T5",),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h size, 30 min slide): each event lands in 2 windows.
    Oracle reproduces Spark's epoch-aligned window starts arithmetically."""
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


@register(
    "q_session_window",
    # gap-flag + cumulative-sum formulation: new session when the gap from
    # the previous event is >= 30 min (Spark merges strictly-smaller gaps;
    # session end = last event + gap)
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessioned AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*) AS n_events,
           ROUND(SUM(value), 4) AS session_value
    FROM sessioned GROUP BY user_id, sid
    """,
    tags=("T6",),
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows: 30-minute inactivity gap per user.

    r15: events rides the user_id-bucketed layout — session_window's
    required ClusteredDistribution(user_id) is satisfied by the bucket
    distribution, so the fact never exchanges (A/B at sf10: 280 MB
    shuffle → 0, wall 1.85 → 0.91 s, rows identical;
    BASELINE.md "Events layout A/B at sf10")."""
    from fineventstream_spark.operators.bucketed import bucketed_table

    ev = bucketed_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


@register(
    "q_repartition_sorted",
    # The operator's POINT is physical layout (hash-partitioned by key,
    # ts-ordered within each partition), which an order-insensitive value
    # compare cannot see — that part is unit-test-asserted
    # (tests/test_operators.py::test_repartition_sorted_layout). What the
    # oracle CAN verify is content preservation: repartition+sort must be
    # a pure reordering — no row dropped, duplicated, or altered (r10;
    # was rows-only).
    oracle="SELECT event_id, user_id, ts, event_type FROM events",
    tags=("T8",),
)
def q_repartition_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key ordered delivery (the Kinesis partition-key contract,
    producer_stock_quotes.py:126-129): hash-partition by key, sort within
    partitions by event time. Layout is asserted in unit tests; the
    driver's value-hash checks the reordering preserved every row."""
    t = Tables(spark, sf_dir)
    return (
        t.events.repartition("user_id")
        .sortWithinPartitions("ts")
        .select("event_id", "user_id", "ts", "event_type")
    )


@register(
    "q_upsert_latest",
    oracle="""
    WITH merged AS (
        SELECT * FROM events WHERE event_id < 8000
        UNION ALL BY NAME
        SELECT * FROM events WHERE event_id >= 8000
    )
    SELECT user_id, event_id, ts, event_type, value
    FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM merged)
    WHERE rn = 1
    """,
    tags=("T9",),
)
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert / latest-snapshot merge: a base snapshot plus an update
    batch collapse to one row per key — newest (ts, event_id) wins. This
    is the batch twin of the foreachBatch-MERGE sink pattern (Structured
    Streaming upserting into a keyed lake table). Plan (r10): ONE
    max_by(struct(row), struct(ts, event_id)) aggregate — unlike the r9
    row_number window (which sorts every shuffle partition), the
    aggregate partial-combines MAP-SIDE to one candidate row per key per
    input partition before the key shuffle, so the exchange carries
    ~|keys| rows, not the corpus (sf10 solo A/B: 1.66 s → 1.18 s, rows
    identical). Same struct tick order as queries/events.py."""
    t = Tables(spark, sf_dir)
    base = t.events.filter(F.col("event_id") < 8000)
    updates = t.events.filter(F.col("event_id") >= 8000)
    merged = base.unionByName(updates)
    return (
        merged.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_id", "ts", "event_type", "value"),
                F.struct(F.col("ts"), F.col("event_id")),
            ).alias("r")
        )
        .select("user_id", "r.event_id", "r.ts", "r.event_type", "r.value")
    )


@register(
    "q_scd2_user_segment",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type AS segment, ts AS valid_from, event_id
      FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, segment, valid_from,
           LEAD(valid_from) OVER (
             PARTITION BY user_id ORDER BY epoch_us(valid_from), event_id
           ) AS valid_to,
           CAST(LEAD(valid_from) OVER (
             PARTITION BY user_id ORDER BY epoch_us(valid_from), event_id
           ) IS NULL AS BOOLEAN) AS is_current
    FROM changes
    """,
    tags=("T9", "W2", "Y7"),
)
def q_scd2_user_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from a change log: each user's segment
    history as validity intervals [valid_from, valid_to), open interval =
    current row. No-op updates (consecutive events with an unchanged
    segment) collapse first, so the dimension stores transitions, not
    traffic — the standard warehouse companion to q_upsert_latest (which
    keeps only the final state). Plan: ONE shuffle on user_id serves both
    window passes — the change-collapse lag and the interval lead run over
    the same partitioning, and Catalyst chains them without a second
    Exchange (the filter between them preserves distribution). At 100 TB
    the change log is date-partition-pruned first and the dimension
    output is transitions-sized, not traffic-sized."""
    # r15: user_id-bucketed layout — both window passes' required
    # ClusteredDistribution(user_id) is satisfied by the bucket
    # distribution, so the ONE shuffle this plan had disappears too
    # (see q_win_rank; verdict #4 A/B artifact).
    from fineventstream_spark.operators.bucketed import bucketed_table

    ev = bucketed_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    changes = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w_lag).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    w_lead = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("segment"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w_lead).alias("valid_to"),
        F.lead("ts").over(w_lead).isNull().alias("is_current"),
    )


@register(
    "q_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT user_id,
             arg_max(value, epoch_us(ts)::DECIMAL(38,0) * 1000000000000 + event_id)
               AS value
      FROM events WHERE ts < TIMESTAMP '2024-01-01 04:00:00'
      GROUP BY user_id
    ), v2 AS (
      SELECT user_id,
             arg_max(value, epoch_us(ts)::DECIMAL(38,0) * 1000000000000 + event_id)
               AS value
      FROM events WHERE ts < TIMESTAMP '2024-01-30 00:00:00'
      GROUP BY user_id
    )
    SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
           CASE WHEN v1.user_id IS NULL THEN 'added'
                WHEN v2.user_id IS NULL THEN 'removed'
                WHEN v1.value <> v2.value THEN 'changed'
                ELSE 'unchanged' END AS change,
           ROUND(v1.value, 4) AS value_before,
           ROUND(v2.value, 4) AS value_after
    FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
    """,
    tags=("T10", "Y7", "J2"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC audit): classify every key between two
    upsert-latest snapshot versions as added / changed / unchanged
    (removed cannot occur under an append-only change log — the branch
    exists for generality and for sinks with deletes, e.g. the vacuumed
    upsert sink in streaming/sink.py). This is the audit a versioned
    lake runs after a backfill: what did reprocessing actually touch?
    Plan: both versions are the SAME max_by aggregate over differently
    date-bounded scans (each bound pushed to the reader), then one
    co-partitioned FULL OUTER join on the key — snapshot-sized, not
    traffic-sized. At 100 TB the two versions come from the sink's
    stored snapshots and the aggregates disappear entirely."""
    t = Tables(spark, sf_dir)
    # struct tick key (r10): same total order as the retired DECIMAL(38,0)
    # packing without the per-row Decimal128 arithmetic (queries/events.py)
    key = F.struct(F.col("ts"), F.col("event_id"))

    def version(cutoff: str, alias: str) -> DataFrame:
        return (
            t.events.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
            .groupBy("user_id")
            .agg(F.max_by("value", key).alias(alias))
            .withColumnRenamed("user_id", f"{alias}_uid")
        )

    v1 = version("2024-01-01 04:00:00", "v1")
    v2 = version("2024-01-30 00:00:00", "v2")
    return (
        v1.join(v2, v1.v1_uid == v2.v2_uid, "full_outer")
        .select(
            F.coalesce("v1_uid", "v2_uid").alias("user_id"),
            F.when(F.col("v1_uid").isNull(), "added")
            .when(F.col("v2_uid").isNull(), "removed")
            .when(F.col("v1") != F.col("v2"), "changed")
            .otherwise("unchanged")
            .alias("change"),
            F.round("v1", 4).alias("value_before"),
            F.round("v2", 4).alias("value_after"),
        )
    )
