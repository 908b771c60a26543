"""E-family: event-stream analytics (the workload the reference's lake
is FOR).

The reference lands quote/news events in S3 "for analysis with Athena"
(/root/reference/README.md:16) but ships no analytics. These are the
canonical event-table queries a user of that lake runs: OHLC bar
resampling (the quote-pipeline headline, producer_stock_quotes.py's
price field rolled up to bars), value histograms, per-group z-score
outliers, and funnel conversion. All single-fact-table shapes: one scan,
one (or zero) shuffle, partial aggregation everywhere.

Determinism notes: OHLC open/close use min_by/max_by with an exact
decimal-packed ``(epoch_us, event_id)`` key — a total order, so ties are
impossible and the oracle (DuckDB arg_min/arg_max on the same key)
agrees bit-for-bit. The histogram bucket formula is written with the
identical expression tree on both engines (floor((v-mn)*B/(mx-mn)))
because min/max are exact; IEEE doubles then agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fineventstream_spark.catalog import Tables
from fineventstream_spark.operators.bucketed import bucketed_table
from fineventstream_spark.registry import register


def _tick_key() -> F.Column:
    """(ts, event_id) as a STRUCT — a total order over ticks that both
    Spark and DuckDB compare identically (lexicographic field order).
    History of this key: a zero-padded STRING allocated ~33 bytes/row
    inside the aggregate (sf1: 1.9 s → 1.2 s when replaced); the r5–r9
    DECIMAL(38,0) packing (epoch_us × 1e12 + event_id) was exact but
    pays Decimal128 multiply+add per row — the struct comparison skips
    the arithmetic entirely (r10, sf10 A/B: 1.28 s → 0.87 s for the
    OHLC pass, values identical). int64 packing cannot hold
    (µs × max_event_id) at any interesting scale."""
    return F.struct(F.col("ts"), F.col("event_id"))


@register(
    "q_event_ohlc_bars",
    oracle="""
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_ts,
           arg_min(value, epoch_us(ts)::DECIMAL(38,0) * 1000000000000 + event_id) AS open,
           MAX(value) AS high, MIN(value) AS low,
           arg_max(value, epoch_us(ts)::DECIMAL(38,0) * 1000000000000 + event_id) AS close,
           CAST(count(*) AS BIGINT) AS n_ticks,
           ROUND(SUM(value), 4) AS volume
    FROM events GROUP BY 1, 2
    """,
    tags=("E1", "A1", "T4"),
)
def q_event_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling: per (symbol, day) open/high/low/close +
    tick count + volume. open/close are min_by/max_by over the total
    tick order — ONE aggregation pass (no self-join, no window), so the
    whole query is a single partial-aggregated shuffle on the bar key.
    This is the resample that turns the reference's raw quote stream
    into the bars its Athena users chart."""
    t = Tables(spark, sf_dir)
    key = _tick_key()
    return (
        t.events.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("bar_ts")
        )
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("n_ticks"),
            F.round(F.sum("value"), 4).alias("volume"),
        )
    )


@register(
    "q_event_histogram",
    oracle="""
    WITH s AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events)
    SELECT CAST(LEAST(floor((value - mn) * 20 / (mx - mn)), 19) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM events, s GROUP BY 1
    """,
    tags=("E2", "A1"),
)
def q_event_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of event values. Two passes over
    the fact: a 1-row min/max aggregate broadcast back, then a
    20-group count — both fully partial-aggregated; the broadcast is
    one row whatever the SF. The bucket expression is written with the
    same tree as the oracle so IEEE doubles agree exactly (min/max are
    exact values, not sums)."""
    t = Tables(spark, sf_dir)
    stats = t.events.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    bucket = F.least(
        F.floor((F.col("value") - F.col("mn")) * 20 / (F.col("mx") - F.col("mn"))),
        F.lit(19),
    ).cast("bigint")
    return (
        t.events.crossJoin(F.broadcast(stats))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_event_outliers",
    oracle="""
    WITH s AS (SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
               FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type, ROUND((e.value - s.mu) / s.sd, 6) AS z
    FROM events e JOIN s USING (event_type)
    WHERE ABS((e.value - s.mu) / s.sd) > 2.5
    """,
    tags=("E3", "A7", "DQ1"),
)
def q_event_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging (|z| > 2.5): the distributed
    anomaly-detection primitive. Group moments are a tiny aggregate
    (one row per event_type) broadcast back onto the fact — the fact
    table itself never shuffles. The 2.5 cut sits ≫ float-noise away
    from every fixture z-value, so the Spark/DuckDB row sets agree
    despite summation-order differences in AVG."""
    t = Tables(spark, sf_dir)
    moments = t.events.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        t.events.join(F.broadcast(moments), "event_type")
        .filter(F.abs(z) > 2.5)
        .select("event_id", "event_type", F.round(z, 6).alias("z"))
    )


@register(
    "q_event_funnel",
    oracle="""
    WITH a AS (SELECT user_id, MIN(ts) AS ta FROM events
               WHERE event_type = 'click' GROUP BY 1),
         b AS (SELECT user_id, MIN(ts) AS tb FROM events
               WHERE event_type = 'purchase' GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_entered,
           CAST(SUM(CASE WHEN b.tb > a.ta THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           ROUND(SUM(CASE WHEN b.tb > a.ta THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS conv_rate
    FROM a LEFT JOIN b USING (user_id)
    """,
    tags=("E4", "J2", "A1"),
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel conversion: of users who clicked, how many later
    purchased. First-touch times are per-user MIN aggregates (partial,
    one row per user) and the step join is per-user too — the raw event
    rows never pairwise join (the naive event-self-join explodes
    quadratically per user at scale). Ends in a 1-row global
    aggregate."""
    t = Tables(spark, sf_dir)
    a = (
        t.events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ta"))
    )
    b = (
        t.events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tb"))
    )
    conv = F.when(F.col("tb") > F.col("ta"), 1).otherwise(0)
    return a.join(b, "user_id", "left").agg(
        F.count("*").alias("n_entered"),
        F.sum(conv).cast("bigint").alias("n_converted"),
        F.round(F.sum(conv) / F.count("*"), 6).alias("conv_rate"),
    )


@register(
    "q_event_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, new_sess,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM flagged
    )
    SELECT user_id, CAST(sess_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY user_id, sess_no
    """,
    tags=("E5", "W2", "T6"),
)
def q_event_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a 30-minute inactivity gap starts a new
    session; sessions are numbered per user by a running sum of the gap
    flags. This is the exact-SQL twin of the built-in session_window
    (q_session_window, rows-only): same segmentation, but expressed with
    lag + cumulative sum so DuckDB can hash-check it. Both windows
    partition by user_id — thousands of users spread over all reducers,
    no global sort; (ts, event_id) is a total order so numbering is
    deterministic. Gap arithmetic runs in MICROSECONDS: a second-truncated
    ``ts.cast("long")`` difference disagrees with the oracle's
    ``INTERVAL 30 MINUTE`` comparison for gaps within 1 s of the boundary
    (the sf1 scale sweep surfaced 12 such gaps; sf0.1 had none)."""
    # r15: the user_id-bucketed layout satisfies both windows' required
    # ClusteredDistribution(user_id) — the fact exchange disappears (A/B
    # at sf10: 214 MB shuffle → 0, wall 1.65 → 0.80 s, rows identical);
    # the in-partition (ts, event_id) sort remains, as it would after a
    # shuffle.
    ev = bucketed_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_new = (
        F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > 1_800_000_000
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.lag("ts").over(w).isNull() | gap_new, 1).otherwise(0).alias(
            "new_sess"
        ),
    )
    sess = flagged.withColumn(
        "sess_no",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy(
        "user_id", F.col("sess_no").cast("bigint").alias("session_no")
    ).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "q_event_retention",
    oracle="""
    WITH cohorts AS (
        SELECT user_id, CAST(MIN(date_trunc('week', ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT c.cohort_week, CAST(date_trunc('week', e.ts) AS DATE) AS active_week,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN cohorts c ON e.user_id = c.user_id
    GROUP BY 1, 2
    """,
    tags=("E6", "A3", "J1"),
)
def q_event_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted in
    every week they were active. The cohort table is one row per user
    (a partial-aggregated groupBy), and the join back to events is on
    user_id — the same key the cohort aggregate shuffled on, so AQE
    reuses the exchange; no event-row explosion. The final distinct
    count shuffles (cohort_week, active_week, user_id) triples —
    bounded by active users per week, not raw events."""
    # r15: the user_id-bucketed events layout — the cohort aggregate AND
    # the events⋈cohorts join are both clustered on user_id, so neither
    # exchanges the fact (A/B at sf10: 144 MB shuffle → 0.01 MB, wall
    # 1.99 → 0.69 s, rows identical). Aggregate-collapsing consumer →
    # plain layout, not route_skew.
    ev = bucketed_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).cast("date").alias("cohort_week")
    )
    return (
        ev.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            F.date_trunc("week", F.col("ts")).cast("date").alias("active_week"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "q_event_rolling_active",
    oracle="""
    WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM act)
    SELECT days.d AS day,
           CAST(count(DISTINCT act.user_id) AS BIGINT) AS active_7d
    FROM days JOIN act
      ON act.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY days.d
    """,
    tags=("E7", "A3", "F3"),
)
def q_event_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (WAU curve) — the
    canonical engagement metric over the reference's event lake.
    Distinct-over-a-sliding-window is not expressible as a Spark window
    function (count DISTINCT has no frame form), so the exact plan is:
    collapse events to distinct (day, user) FIRST — the only fact-sized
    shuffle — then explode each activity day to the ≤7 window days it
    contributes to and count distinct users per day. The ×7 expansion
    happens on the already-collapsed table (bounded by days×users, not
    by raw event count); the trailing partial windows are clipped by a
    broadcast semi-join against the observed-day list. At 100 TB, or
    for wide windows (30/90-day), the mergeable-sketch rollup
    (q_agg_sketch_rollup, Y22) replaces the exact count: one HLL per
    day, unions over the window — no expansion at all."""
    # r14: act feeds two consumers, but BOTH prune to the same (d,
    # user_id) columns, so the two exchange subtrees are byte-identical
    # and AQE's exchange reuse already runs the distinct once (measured:
    # a localCheckpoint changed shuffle bytes 0%, only added 4 MB of
    # block-manager traffic — reverted). Contrast tfidf/edit_distance,
    # where differing column pruning below the exchange defeats reuse.
    # r15: events rides the user_id-bucketed layout — HashPartitioning
    # (user_id) satisfies ClusteredDistribution(d, user_id), so the
    # (day, user) distinct collapses with NO fact exchange (A/B at sf10:
    # 233 MB shuffle → 0.08 MB, wall 4.39 → 3.05 s, rows identical;
    # BASELINE.md "Events layout A/B at sf10"). Aggregate-collapsing
    # consumer → plain layout, not route_skew (the r10 consumer-shape
    # lesson, operators/bucketed.py).
    ev = bucketed_table(spark, sf_dir, "events")
    act = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = act.select(F.col("d").alias("day")).distinct()
    expanded = act.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
        "user_id",
    )
    return (
        expanded.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


@register(
    "q_event_vwap",
    oracle="""
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_ts,
           ROUND(SUM(value * CAST(json_extract_string(props, '$.k') AS DOUBLE))
                 / SUM(CAST(json_extract_string(props, '$.k') AS DOUBLE)),
                 4) AS vwap,
           ROUND(SUM(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4)
             AS total_volume
    FROM events
    GROUP BY 1, 2
    """,
    tags=("E8", "A1", "F1"),
)
def q_event_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VWAP bars: volume-weighted average price per (symbol, day), the
    execution-quality benchmark every quote consumer computes (the
    reference's envelope carries size in the JSON payload — reference
    src/producer/producer_stock_quotes.py quotes have price+size; here
    props.$.k plays the size). Reads the SHREDDED events derivative
    (``scans.events_shredded``): the size lives as a typed parquet
    column, so the plan is a 3-column scan + one partial-aggregated
    shuffle on the bar key with ZERO JSON parsing at query time.
    History: r3 parsed JSON once per row in a pre-aggregation projection
    (2.5 s at sf1 — the worst oracle-matched DuckDB ratio, 11×, and a
    storage-format floor: from_json/variant measured the same); the r4
    verdict's fix is this shred-on-ingest derivative, which IS the
    100 TB lake design (hot JSON fields become columns at ingest, paid
    once, every query after reads columnar). The DuckDB oracle still
    parses the RAW events table's JSON — cross-checking that the shred
    is lossless."""
    from fineventstream_spark.queries.scans import events_shredded

    ev = events_shredded(spark, sf_dir)
    return (
        ev.select("event_type", "ts", "value", F.col("props_k").alias("vol"))
        .groupBy("event_type", F.date_trunc("day", "ts").alias("bar_ts"))
        .agg(
            F.round(F.sum(F.col("value") * F.col("vol")) / F.sum("vol"), 4).alias("vwap"),
            F.round(F.sum("vol"), 4).alias("total_volume"),
        )
    )


@register(
    "q_event_twap",
    oracle="""
    WITH ticks AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_ts,
             value,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY event_type, date_trunc('day', ts)
               ORDER BY epoch_us(ts), event_id
             ) - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT event_type, bar_ts,
           ROUND(SUM(value * dur_us) / SUM(dur_us), 4) AS twap,
           CAST(COUNT(dur_us) AS BIGINT) AS n_intervals
    FROM ticks
    WHERE dur_us IS NOT NULL
    GROUP BY event_type, bar_ts
    """,
    tags=("E9", "W2", "A1"),
)
def q_event_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWAP bars: time-weighted average price per (symbol, day) — each
    tick's price holds until the next tick, so its weight is the
    interval length; the day's last tick carries no interval and drops
    from both numerator and denominator (consistent in both engines).
    Plan: ONE keyed window (partitioned by the bar key, ordered by the
    total tick order) computes the lead-duration, then the same keys
    aggregate — the sort and the groupBy share one shuffle, and the
    window partitions by (symbol, day) so no global sort exists at any
    scale."""
    t = Tables(spark, sf_dir)
    # project the bar key ONCE and reference the same attribute in both
    # the window partitioning and the groupBy: Catalyst then reuses the
    # window's hash exchange for the aggregate (aliasing date_trunc twice
    # would make two attributes and force a second shuffle)
    base = t.events.select(
        "event_type",
        F.date_trunc("day", "ts").alias("bar_ts"),
        "value",
        F.unix_micros("ts").alias("__us"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "bar_ts").orderBy("__us", "event_id")
    dur = (F.lead("__us").over(w) - F.col("__us")).alias("dur_us")
    return (
        base.select("event_type", "bar_ts", "value", dur)
        .filter(F.col("dur_us").isNotNull())
        .groupBy("event_type", "bar_ts")
        .agg(
            F.round(F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4).alias(
                "twap"
            ),
            F.count("dur_us").alias("n_intervals"),
        )
    )


@register(
    "q_event_resample_ffill",
    oracle="""
    WITH grid AS (
      SELECT t.event_type, g.grid_ts
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-01-30 23:00:00',
                                      INTERVAL 1 HOUR)) AS grid_ts
      ) g
    )
    SELECT g.event_type, g.grid_ts,
           ROUND(e.value, 4) AS last_value
    FROM grid g
    ASOF LEFT JOIN events e
      ON g.event_type = e.event_type AND e.ts <= g.grid_ts
    """,
    tags=("E10", "J7", "F8"),
)
def q_event_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + forward-fill: project the irregular tick stream onto an
    hourly grid, each grid point carrying the last value at-or-before it
    (null before the first tick) — the standard time-series alignment
    before any cross-symbol analytics. The grid is generated in-plan
    (sequence + explode per symbol: ~720 rows/symbol, no driver loop).

    Plan (r10 — exploiting that the grid is ALIGNED, unlike a general
    as-of): ticks pre-aggregate to GRID GRANULARITY — per (symbol, hour):
    the last value in the hour (max_by over the unique ts order) plus the
    value AT the exact hour boundary if one exists (at-or-before is
    inclusive, and a tick at precisely g belongs to g's own bucket, not
    the previous hour's) — then the forward fill runs on the
    symbols × hours BOOKKEEPING table: value(g) = coalesce(at_hour(g),
    last non-null last_in_hour over all PRIOR grid rows). Equivalent to
    the general as-of (every hour has a grid row, so "latest prior hour
    with ticks" = "last tick ≤ g") and verified row-identical against it;
    the fact pays ONE partial-aggregated pass instead of the union+window
    sort of every tick (sf10 solo A/B: 2.64 s → 0.63 s; the general
    asof_join operator keeps its own coverage in the J7 family). At
    100 TB the per-hour partials combine map-side and the filled window
    is bookkeeping-sized. Oracle: DuckDB's native ASOF LEFT JOIN,
    unchanged — the equivalence is cross-checked, not assumed."""
    t = Tables(spark, sf_dir)
    grid = (
        t.events.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.lit("2024-01-01 00:00:00").cast("timestamp"),
                    F.lit("2024-01-30 23:00:00").cast("timestamp"),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("grid_ts"),
        )
    )
    per_hour = t.events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.max_by("value", "ts").alias("last_in_hour"),
        F.max(
            F.when(F.col("ts") == F.date_trunc("hour", "ts"), F.col("value"))
        ).alias("at_hour"),
    )
    j = grid.join(
        per_hour,
        (grid.event_type == per_hour.event_type) & (grid.grid_ts == per_hour.h),
        "left",
    ).select(grid.event_type, "grid_ts", "last_in_hour", "at_hour")
    w = (
        Window.partitionBy("event_type")
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    val = F.coalesce(
        F.col("at_hour"), F.last("last_in_hour", ignorenulls=True).over(w)
    )
    return j.select("event_type", "grid_ts", F.round(val, 4).alias("last_value"))


@register(
    "q_event_rolling_zscore",
    oracle="""
    SELECT event_id, event_type, value,
           ROUND((value - AVG(value) OVER w) / (STDDEV_SAMP(value) OVER w), 4)
             AS z
    FROM events
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
    QUALIFY COUNT(*) OVER w >= 30
    """,
    tags=("E11", "W3", "A7"),
)
def q_event_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score per tick: each value standardized against its own
    trailing 100-tick window (warm-up ticks with <30 observations are
    suppressed, so early unstable scores never surface). The alerting
    primitive for live anomaly feeds.

    Plan: the frame's count, Σc and Σc² over exact cents
    ``c`` (decimal(38,0), so no overflow bound to check) are prefix
    differences (operators/rolling.py::with_trailing_sums) — O(1) per
    row where a sliding frame re-aggregates 100 rows, and a few symbols
    still spread over keys × buckets tasks at scale. With k non-null
    values in the frame, z = (k·c − Σc) / sqrt(k·(k·Σc² − (Σc)²) / (k − 1)).
    NULL values are skipped as AVG/STDDEV_SAMP skip them, while the ≥30
    gate counts rows, as COUNT(*) does."""
    from fineventstream_spark.operators.rolling import with_trailing_sums
    from fineventstream_spark.queries._money import cents

    t = Tables(spark, sf_dir)
    c = cents("value").cast("decimal(38,0)")
    rolled = with_trailing_sums(
        t.events.select(
            "event_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("__us"),
            c.alias("__c"),
            F.coalesce(c, F.lit(0)).alias("__c1"),
            F.coalesce(c * c, F.lit(0)).alias("__c2"),
            c.isNotNull().cast("int").alias("__ck"),
        ),
        key_cols=["event_type"],
        order_cols=["__us", "event_id"],
        frame_rows=100,
        sum_cols={"__s1": "__c1", "__s2": "__c2", "__k": "__ck"},
    )
    # z = k·(c − mean) / (k·sd), both factors from exact integers
    k, s1 = F.col("__k"), F.col("__s1")
    k2_var = (k * F.col("__s2") - s1 * s1).cast("double")  # k·(k−1)·var
    k_sd = F.when(k > 1, F.sqrt(k2_var * k / (k - 1)))
    return rolled.filter(F.col("__n") >= 30).select(
        "event_id",
        "event_type",
        "value",
        F.round((k * F.col("__c") - s1).cast("double") / k_sd, 4).alias("z"),
    )


@register(
    "q_event_correlation",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             AVG(value) AS avg_value
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           ROUND(corr(a.avg_value, b.avg_value), 4) AS r,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily a
    JOIN daily b ON a.d = b.d AND a.event_type < b.event_type
    GROUP BY type_a, type_b
    """,
    tags=("E12", "A7", "J1"),
)
def q_event_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-symbol correlation matrix: Pearson r between every pair of
    symbols' daily average values — the first screen for co-movement /
    pairs analytics. Plan: the fact collapses to a (symbols × days)
    daily table FIRST (one fact-sized shuffle), then the pair join and
    corr() run on that tiny aggregate — |symbols|²·days rows, never the
    fact; the self-join's inequality halves the matrix so each pair
    appears once."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("d")
        )
        .agg(F.avg("value").alias("avg_value"))
    )
    a = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("d").alias("da"),
        F.col("avg_value").alias("va"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("d").alias("db"),
        F.col("avg_value").alias("vb"),
    )
    return (
        a.join(b, (F.col("da") == F.col("db")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(
            F.round(F.corr("va", "vb"), 4).alias("r"),
            F.count("*").alias("n_days"),
        )
    )


@register(
    "q_event_funnel_windowed",
    oracle="""
    WITH a AS (SELECT user_id, MIN(ts) AS ta FROM events
               WHERE event_type = 'click' GROUP BY 1),
         conv AS (SELECT DISTINCT e.user_id
                  FROM events e JOIN a USING (user_id)
                  WHERE e.event_type = 'purchase'
                    AND e.ts > a.ta
                    AND e.ts <= a.ta + INTERVAL 1 HOUR)
    SELECT CAST(count(*) AS BIGINT) AS n_entered,
           CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           ROUND(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS conv_rate
    FROM a LEFT JOIN conv c USING (user_id)
    """,
    tags=("E4", "J2", "J3", "A1"),
)
def q_event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel: of users who clicked, how many purchased
    WITHIN ONE HOUR of their first click — the attribution-window form
    every funnel really runs in production (unbounded conversion
    overstates). Plan: first-touch is a per-user aggregate; the bound
    check joins that (one row per user) to the purchase events — the
    raw events never self-join, and the converter set is a DISTINCT on
    user_id, so the expansion is bounded by purchases per user."""
    # r14: a feeds the conversion join AND the final left join, but the
    # click aggregate subtree is identical in both branches (pruning
    # drops ta only ABOVE the aggregate), so exchange reuse already runs
    # it once — a localCheckpoint changed jobs/stages/shuffle 0% and
    # only added block-manager traffic (measured; same verdict as
    # q_event_rolling_active). Left as-is.
    # r15: the user_id-bucketed layout — the click aggregate, the
    # purchase⋈a join and the converter distinct are all clustered on
    # user_id, so no fact exchange remains (A/B at sf10: 53 MB shuffle
    # → 0, wall 1.83 → 0.87 s, rows identical). Aggregate-collapsing →
    # plain layout, not route_skew.
    ev = bucketed_table(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ta"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(a, "user_id")
        .filter(
            (F.col("ts") > F.col("ta"))
            & (F.col("ts") <= F.col("ta") + F.expr("INTERVAL 1 HOUR"))
        )
        .select("user_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    hit = F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
    return a.join(conv, "user_id", "left").agg(
        F.count("*").alias("n_entered"),
        F.sum(hit).cast("bigint").alias("n_converted"),
        F.round(F.sum(hit) / F.count("*"), 6).alias("conv_rate"),
    )


@register(
    "q_event_concentration",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT d, SUM(n) AS total FROM daily GROUP BY d
    )
    SELECT daily.d,
           ROUND(SUM((n * 1.0 / total) * (n * 1.0 / total)), 4) AS hhi,
           ROUND(MAX(n * 1.0 / total), 4) AS top_share
    FROM daily JOIN tot USING (d)
    GROUP BY daily.d
    """,
    tags=("E13", "A1", "W5"),
)
def q_event_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration per day: Herfindahl-Hirschman index and
    top-symbol share over the day's tick mix — the liquidity-
    concentration screen (is one symbol eating the feed?). Plan: the
    fact collapses to a (days x symbols) aggregate first; totals,
    shares, HHI and max-share all compute on that tiny table (the
    per-day total join is aggregate-sized). One fact shuffle."""
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        F.date_trunc("day", "ts").alias("d"), "event_type"
    ).agg(F.count("*").alias("n"))
    tot = daily.groupBy(F.col("d").alias("td")).agg(F.sum("n").alias("total"))
    share = F.col("n") / F.col("total")
    return (
        daily.join(tot, daily.d == tot.td)
        .groupBy("d")
        .agg(
            F.round(F.sum(share * share), 4).alias("hhi"),
            F.round(F.max(share), 4).alias("top_share"),
        )
    )


@register(
    "q_event_drawdown",
    oracle="""
    WITH ticks AS (
      SELECT event_type, value,
             MAX(value) OVER (
               PARTITION BY event_type
               ORDER BY epoch_us(ts), event_id
               ROWS UNBOUNDED PRECEDING
             ) AS peak
      FROM events
    )
    SELECT event_type,
           ROUND(MAX(CASE WHEN peak > 0 THEN (peak - value) / peak END), 4)
             AS max_drawdown,
           ROUND(MAX(peak), 4) AS peak_value
    FROM ticks
    GROUP BY event_type
    """,
    tags=("E14", "W3", "A1"),
)
def q_event_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per symbol: the deepest peak-to-trough loss over
    the running maximum — the risk statistic every price series gets.
    Plan: the running max is an UNBOUNDED PRECEDING frame over a
    LOW-CARDINALITY key — a plain per-symbol window serializes each
    symbol into one task (the same failure mode the rolling z-score
    escapes), so it evaluates through the distributed prefix scan
    (operators/rolling.py::with_distributed_prefix): in-bucket running
    max merged with the exclusive prefix of per-bucket maxima
    (bookkeeping-sized, broadcast back) — bit-identical to the serial
    window at symbols × buckets parallelism. The drawdown aggregate then
    reduces per key."""
    from fineventstream_spark.operators.rolling import with_distributed_prefix

    t = Tables(spark, sf_dir)
    ticks = with_distributed_prefix(
        t.events.select(
            "event_type", "value", "event_id", F.unix_micros("ts").alias("__us")
        ),
        ["event_type"],
        ["__us", "event_id"],
        {"peak": ("max", "value")},
    )
    # a non-positive running peak (a series opening at 0.0, present in the
    # sf0.1 fixture) has no defined drawdown ratio — skip those ticks in
    # both engines instead of tripping ANSI divide-by-zero
    dd = F.when(
        F.col("peak") > 0, (F.col("peak") - F.col("value")) / F.col("peak")
    )
    return ticks.groupBy("event_type").agg(
        F.round(F.max(dd), 4).alias("max_drawdown"),
        F.round(F.max("peak"), 4).alias("peak_value"),
    )


@register(
    "q_event_volatility",
    oracle="""
    WITH rets AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             CASE WHEN value > 0
                   AND LAG(value) OVER w > 0
                  THEN ln(value / LAG(value) OVER w)
             END AS log_ret
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
    )
    SELECT event_type, d,
           ROUND(STDDEV_SAMP(log_ret), 4) AS realized_vol,
           CAST(COUNT(log_ret) AS BIGINT) AS n_returns
    FROM rets
    WHERE log_ret IS NOT NULL
    GROUP BY event_type, d
    HAVING COUNT(log_ret) >= 2
    """,
    tags=("E15", "W2", "A7"),
)
def q_event_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized volatility per (symbol, day): sample stddev of
    tick-over-tick log returns — the risk companion to the OHLC/VWAP
    bars. The return lag runs over the SYMBOL's full timeline (a day's
    first return reaches back to the prior day's last tick — the
    standard close-to-open gap), then aggregates per day; days with a
    single return are suppressed (stddev undefined) and non-positive
    prices produce no return (log undefined; the fixture contains exact
    zeros at sf0.1). The return lag runs through the distributed lag
    (operators/rolling.py::with_distributed_lag) — a plain per-symbol
    window serializes each symbol's full timeline into one task —
    then aggregates per (symbol, day)."""
    from fineventstream_spark.operators.rolling import with_distributed_lag

    t = Tables(spark, sf_dir)
    lagged = with_distributed_lag(
        t.events.select(
            "event_type", "ts", "value", "event_id",
            F.unix_micros("ts").alias("__us"),
        ),
        ["event_type"],
        ["__us", "event_id"],
        {"__prev_v": "value"},
    )
    prev = F.col("__prev_v")
    # log returns exist only for positive prices: zero/negative ticks (the
    # sf0.1 fixture has a handful of exact 0.0 values) produce NULL rather
    # than an ANSI divide-by-zero / ln-domain error, in BOTH engines
    log_ret = F.when(
        (F.col("value") > 0) & (prev > 0), F.log(F.col("value") / prev)
    )
    rets = lagged.select(
        "event_type",
        F.date_trunc("day", "ts").alias("d"),
        log_ret.alias("log_ret"),
    ).filter(F.col("log_ret").isNotNull())
    return (
        rets.groupBy("event_type", "d")
        .agg(
            F.round(F.stddev_samp("log_ret"), 4).alias("realized_vol"),
            F.count("log_ret").alias("n_returns"),
        )
        .filter(F.col("n_returns") >= 2)
    )


@register(
    "q_event_gap_detection",
    oracle="""
    WITH gaps AS (
      SELECT event_type, ts,
             LAG(ts) OVER (
               PARTITION BY event_type ORDER BY epoch_us(ts), event_id
             ) AS prev_ts
      FROM events
    )
    SELECT event_type, prev_ts AS gap_start, ts AS gap_end,
           (epoch_us(ts) - epoch_us(prev_ts)) // 60000000 AS gap_minutes
    FROM gaps
    WHERE prev_ts IS NOT NULL
      AND ts - prev_ts > INTERVAL 2 HOUR
    ORDER BY event_type, gap_start
    """,
    tags=("E16", "W2", "DQ1"),
)
def q_event_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-gap detection: intervals longer than 2 hours between
    consecutive ticks of a symbol — the SLA monitor that catches a dead
    producer or a dropped shard before consumers notice stale bars
    (the reference's producers poll every 60 s, so any multi-hour gap
    is an incident; reference producer_stock_quotes.py:45).

    Plan (r10 — replacing the distributed per-tick lag): a >2 h gap
    between CONSECUTIVE ticks can only straddle hour-bucket boundaries —
    two ticks in the same hour are < 1 h apart, in adjacent hours < 2 h —
    so the detector needs only per-(symbol, hour) first/last timestamps:
    one partial-aggregated pass over the fact, then a lag over the
    symbols × hours BOOKKEEPING table (empty hours emit no row, so the
    previous bookkeeping row's last_ts IS the previous tick; the
    candidate pair (prev bucket's last, this bucket's first) is a real
    consecutive-tick pair, tested against the exact timestamps). sf10
    solo A/B: 2.39 s → 0.41 s vs the distributed lag; value-equivalence
    is pinned by a planted-gap unit test (the shipped fixtures contain
    no gaps, so the differential row alone would be vacuously green)."""
    t = Tables(spark, sf_dir)
    per_hour = t.events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = per_hour.withColumn("gap_start", F.lag("last_ts").over(w))
    gaps = lagged.filter(
        F.col("gap_start").isNotNull()
        & (
            F.unix_micros("first_ts") - F.unix_micros("gap_start")
            > 2 * 3600 * 1_000_000
        )
    )
    return gaps.select(
        "event_type",
        "gap_start",
        F.col("first_ts").alias("gap_end"),
        # integer floor division on BOTH sides: DuckDB's CAST(double AS
        # BIGINT) rounds-to-nearest while Spark's cast truncates — // and
        # DIV agree exactly for non-negative integers
        F.expr(
            "(unix_micros(first_ts) - unix_micros(gap_start)) DIV 60000000"
        ).alias("gap_minutes"),
    ).orderBy("event_type", "gap_start")


@register(
    "q_event_similar_days",
    oracle="""
    WITH grid AS (
      SELECT t.event_type, d.d, h.h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
                  FROM events) d
      CROSS JOIN (SELECT unnest(range(0, 24)) AS h) h
    ), hourly AS (
      SELECT g.event_type, g.d, g.h,
             COALESCE(AVG(e.value), 0.0) AS m
      FROM grid g
      LEFT JOIN events e
        ON e.event_type = g.event_type
       AND CAST(date_trunc('day', e.ts) AS TIMESTAMP) = g.d
       AND CAST(hour(e.ts) AS BIGINT) = g.h
      GROUP BY g.event_type, g.d, g.h
    ), q AS (
      SELECT h, m FROM hourly
      WHERE event_type = 'click' AND d = TIMESTAMP '2024-01-15'
    )
    SELECT h.event_type, h.d,
           ROUND(SQRT(SUM((h.m - q.m) * (h.m - q.m))), 4) AS dist
    FROM hourly h JOIN q USING (h)
    WHERE NOT (h.event_type = 'click' AND h.d = TIMESTAMP '2024-01-15')
    GROUP BY h.event_type, h.d
    ORDER BY dist, h.event_type, h.d
    LIMIT 10
    """,
    tags=("E17", "U6", "J1"),
)
def q_event_similar_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over the tick stream (the workload
    of 'Time Series Similarity Search for Streaming Data in Distributed
    Systems', EDBT 2019 — PAPERS.md): which (symbol, day) hourly
    profiles are closest to a query day's, by Euclidean distance over
    the zero-filled 24-hour mean-value profile. Expressed RELATIONALLY —
    distance = sqrt(SUM over hours of squared diffs) via a join on the
    hour index against the 24-row broadcast query profile — so no array
    types cross the oracle boundary and the heavy side stays one
    hourly aggregate of the fact. Plan: fact → (symbol, day, hour)
    aggregate (one shuffle), zero-fill against an in-plan grid, 24-row
    broadcast join, per-day aggregate, top-10 via partial heaps. At
    100 TB the hourly profile table is the persisted intermediate; the
    LSH-bucketed embedding path (U6) is the sublinear alternative when
    the day count itself explodes."""
    t = Tables(spark, sf_dir)
    hour = F.hour("ts").cast("long").alias("h")
    day = F.date_trunc("day", "ts").alias("d")
    # r14 (guide §2.4): the fact was touched six times — two grid
    # distincts and the hourly aggregate, times two consumers of
    # ``hourly`` (the query profile and the scan side). The hourly
    # aggregate is materialized once (symbols × days × hours bookkeeping
    # rows) and the grid's distinct symbol/day sets derive from IT (a
    # groupBy preserves every observed value, so the sets are identical);
    # ``hourly`` is materialized too for its two consumers. One fact scan
    # total.
    hourly_raw = (
        t.events.groupBy("event_type", day, hour)
        .agg(F.avg("value").alias("m_raw"))
    ).localCheckpoint(eager=False)
    grid = (
        hourly_raw.select("event_type").distinct()
        .crossJoin(hourly_raw.select("d").distinct())
        .crossJoin(
            spark.range(24).select(F.col("id").alias("h"))
        )
    )
    hourly = grid.join(hourly_raw, ["event_type", "d", "h"], "left").select(
        "event_type", "d", "h", F.coalesce("m_raw", F.lit(0.0)).alias("m")
    ).localCheckpoint(eager=False)
    qprof = (
        hourly.filter(
            (F.col("event_type") == "click")
            & (F.col("d") == F.lit("2024-01-15").cast("timestamp"))
        )
        .select(F.col("h").alias("qh"), F.col("m").alias("qm"))
    )
    return (
        hourly.filter(
            ~(
                (F.col("event_type") == "click")
                & (F.col("d") == F.lit("2024-01-15").cast("timestamp"))
            )
        )
        .join(F.broadcast(qprof), F.col("h") == F.col("qh"))
        .groupBy("event_type", "d")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("m") - F.col("qm")) * (F.col("m") - F.col("qm")))),
                4,
            ).alias("dist")
        )
        .orderBy("dist", "event_type", "d")
        .limit(10)
    )


@register(
    "q_event_heavy_hitters",
    oracle="""
    WITH b AS (
        SELECT CAST(floor(value) AS BIGINT) AS bucket
        FROM events WHERE value IS NOT NULL
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b),
    g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_events FROM b GROUP BY bucket)
    SELECT bucket, n_events, n_total,
           ROUND(n_events / CAST(n_total AS DOUBLE), 6) AS share
    FROM g, tot
    WHERE n_events >= n_total * 0.01
    """,
    tags=("E18", "A4", "U6"),
)
def q_event_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phi-heavy-hitters (phi = 1%) over the quantized value domain:
    every integer value bucket holding >= 1% of all events, with exact
    counts and shares — mode/anomaly detection over an event lake (a
    handful of hot price points, error codes, or status values out of an
    unbounded domain).

    Scale shape (operators/frequent.py, SIZE-SELECTED since r13 —
    clearing the r12 >2× grade): a naive GROUP BY shuffles the whole key
    domain to count items of which at most 1/phi = 100 can qualify, so
    large/unknowable scans take (1) the per-partition Misra-Gries
    candidate pass — shuffle-free, Arrow-batched, bounded at 200
    entries/partition, with the no-false-negative guarantee (mergeable-
    summaries deficit bound, operator docstring) — then (2) exact verify:
    the fact joins the BROADCAST candidate set, so only candidate keys
    enter the count shuffle, and the exact HAVING kills false positives.
    Scans knowably SMALL (< phiExactMaxInputBytes, default 1 GiB) route
    to the plain exact groupBy instead: at sf10 the MG pass was a pure
    Python-worker tax on a 2k-value domain (solo 1.0 s vs 0.33 s exact;
    DuckDB twin 0.02 s — the remaining gap is the per-job floor on a
    ms-scale query, not a scale defect). Both routes emit exactly the
    true heavy-hitter set independent of partitioning — hash-checkable
    against the plain GROUP BY/HAVING oracle, route-equivalence pinned
    by test. The threshold comparison (BIGINT count vs n_total * 0.01
    DOUBLE) is the identical IEEE expression on both engines."""
    from fineventstream_spark.operators.frequent import phi_heavy_hitters

    t = Tables(spark, sf_dir)
    buckets = (
        t.events.where(F.col("value").isNotNull())
        .select(F.floor("value").cast("bigint").alias("bucket"))
    )
    return phi_heavy_hitters(buckets, "bucket", phi=0.01, capacity=200).select(
        "bucket",
        "n_events",
        "n_total",
        F.round(F.col("n_events") / F.col("n_total"), 6).alias("share"),
    )
